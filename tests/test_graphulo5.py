"""Golden parity with the reference's 5-vertex fixture
(AlgorithmTest.java:85-97 and assertions cited per test)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphulo_spark.algorithms import jaccard, ktruss, triangle_count
from graphulo_spark.linalg import degrees, symmetrize


def test_degrees(g5):
    # AlgorithmTest.java:555-559: d(v1)=3 d(v2)=3 d(v3)=3 d(v4)=2 d(v5)=1
    deg = {r["v"]: r["deg"] for r in degrees(symmetrize(g5), by="src").collect()}
    assert deg == {1: 3.0, 2: 3.0, 3: 3.0, 4: 2.0, 5: 1.0}
    # weighted path (the degree_table_weighted rotation pin): unit weights
    # make it equal the count path; doubled weights scale it exactly
    wdeg = {r["v"]: r["deg"] for r in degrees(
        symmetrize(g5), by="src", weighted=True).collect()}
    assert wdeg == deg
    from pyspark.sql import functions as F
    doubled = symmetrize(g5).withColumn("w", F.col("w") * 2)
    w2 = {r["v"]: r["deg"] for r in degrees(doubled, by="src", weighted=True).collect()}
    assert w2 == {v: 2 * d for v, d in deg.items()}


def test_triangles_golden(g5):
    # AlgorithmTest.java:259,319,406: three implementations all give 2
    assert triangle_count(g5) == 2


def test_triangles_on_symmetrized_input(g5, spark):
    # input with both directions present must not change the count
    assert triangle_count(symmetrize(g5)) == 2


def test_jaccard_golden(g5):
    # AlgorithmTest.java:562-569, tolerance 1e-3 in the reference; we use 1e-9
    got = {(r["src"], r["dst"]): r["jaccard"] for r in jaccard(g5).collect()}
    expected = {
        (1, 2): 0.2,
        (1, 3): 0.5,
        (1, 4): 0.25,
        (1, 5): 1 / 3,
        (2, 3): 0.2,
        (2, 4): 2 / 3,
        (3, 4): 0.25,
        (3, 5): 1 / 3,
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-9, k


def test_ktruss3_golden(spark, g5):
    # AlgorithmTest.java:129: 3-truss nnz=10 (5 undirected edges; v2-v5 drops)
    kept = ktruss(spark, g5, k=3)
    rows = {(r["src"], r["dst"]) for r in kept.collect()}
    assert rows == {(1, 2), (1, 3), (1, 4), (2, 3), (3, 4)}
    assert 2 * len(rows) == 10  # nnz in the reference's symmetrized encoding


def test_ktruss4_golden(spark, g5):
    # AlgorithmTest.java:173: add v2-v4, 4-truss nnz=12 (K4 on v1..v4)
    g = g5.unionByName(g5.sparkSession.createDataFrame([(2, 4, 1.0)], g5.schema))
    kept = ktruss(spark, g, k=4)
    rows = {(r["src"], r["dst"]) for r in kept.collect()}
    assert rows == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert 2 * len(rows) == 12
