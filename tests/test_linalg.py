"""Kernel semantics: SpMV/SpGEMM vs numpy, ewise/set ops, filters, top-k."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphulo_spark.linalg import (
    bernoulli_sample,
    canonicalize,
    ewise_mult,
    ewise_sum,
    minmax_filter,
    row_degree_filter,
    row_selector,
    spgemm,
    spmv,
    table_diff,
    top_k_per_row,
    triangular_filter,
)

EDGES = [(1, 2, 2.0), (1, 3, 1.0), (2, 3, 4.0), (3, 1, 0.5), (3, 4, 1.0), (4, 4, 2.0)]
VEC = [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src long, dst long, w double")


@pytest.fixture(scope="module")
def vec(spark):
    return spark.createDataFrame(VEC, "v long, x double")


def _dense(entries, n=5):
    m = np.zeros((n, n))
    for s, d, w in entries:
        m[s, d] += w
    return m


@pytest.mark.parametrize("layout", ["plain", "resident"])
def test_spmv_matches_numpy(edges, vec, layout):
    # 'resident': edges hash-partitioned on the gather key, as pagerank keeps them
    if layout == "resident":
        edges = edges.repartition(4, "src")
    a = _dense(EDGES)
    x = np.zeros(5)
    for v, val in VEC:
        x[v] = val
    want = a.T @ x  # y[dst] = sum_src w * x[src]
    got = {r["v"]: r["x"] for r in spmv(edges, vec).collect()}
    for d in range(5):
        assert abs(got.get(d, 0.0) - want[d]) < 1e-12


def test_spmv_transpose(edges, vec):
    a = _dense(EDGES)
    x = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    want = a @ x
    got = {r["v"]: r["x"] for r in spmv(edges, vec, transpose=True).collect()}
    for s in range(5):
        assert abs(got.get(s, 0.0) - want[s]) < 1e-12


def test_spmv_zero_drop(spark):
    # Graphulo MathTwoScalar.java:300-307 zero-drop (sparsity preservation)
    e = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    v = spark.createDataFrame([(1, 0.0)], "v long, x double")
    assert spmv(e, v).count() == 0
    assert spmv(e, v, drop_zeros=False).count() == 1


def test_spgemm_matches_numpy(spark, edges):
    a = _dense(EDGES)
    want = a.T @ a  # Graphulo contract: contraction over rows (AT supplied)
    got = {(r["src"], r["dst"]): r["w"] for r in spgemm(edges, edges).collect()}
    for i in range(5):
        for j in range(5):
            assert abs(got.get((i, j), 0.0) - want[i, j]) < 1e-12


def test_spgemm_no_transpose(spark, edges):
    a = _dense(EDGES)
    want = a @ a
    got = {(r["src"], r["dst"]): r["w"] for r in spgemm(edges, edges, transpose_a=False).collect()}
    for i in range(5):
        for j in range(5):
            assert abs(got.get((i, j), 0.0) - want[i, j]) < 1e-12


def test_ewise(spark):
    a = spark.createDataFrame([(1, 2, 2.0), (1, 3, 3.0)], "src long, dst long, w double")
    b = spark.createDataFrame([(1, 2, 5.0), (2, 3, 7.0)], "src long, dst long, w double")
    assert {(r["src"], r["dst"], r["w"]) for r in ewise_mult(a, b).collect()} == {(1, 2, 10.0)}
    assert {(r["src"], r["dst"], r["w"]) for r in ewise_sum(a, b).collect()} == {
        (1, 2, 7.0),
        (1, 3, 3.0),
        (2, 3, 7.0),
    }
    assert {(r["src"], r["dst"]) for r in table_diff(a, b).collect()} == {(1, 3)}
    assert {(r["src"], r["dst"]) for r in row_selector(b, a).collect()} == {(1, 2)}


def test_filters(edges):
    assert {(r["src"], r["dst"]) for r in triangular_filter(edges, "upper").collect()} == {
        (1, 2), (1, 3), (2, 3), (3, 4),
    }
    assert {(r["src"], r["dst"]) for r in triangular_filter(edges, "diag").collect()} == {(4, 4)}
    assert minmax_filter(edges, lo=1.0, hi=2.0).count() == 4
    # src=3 has 2 entries, src=1 has 2, src=2 and 4 have 1 each
    assert row_degree_filter(edges, min_degree=2).count() == 4
    assert row_degree_filter(edges, max_degree=1).count() == 2


def test_bernoulli_sample_deterministic(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    s1 = bernoulli_sample(df, "k", 10).count()
    s2 = bernoulli_sample(df, "k", 10).count()
    assert s1 == s2
    assert 50 <= s1 <= 200  # ~10%


def test_stratified_sample_refuses_null_keys(spark):
    """A NULL key would hash NULL, sort before every real hash, and claim
    the group's slots non-deterministically — the guard refuses loudly."""
    from graphulo_spark.linalg import stratified_sample

    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 3)], "grp string, k long"
    )
    with pytest.raises(Exception, match="non-null integer key"):
        stratified_sample(df, ["grp"], "k", 2).collect()


def test_stratified_sample_matches_python_oracle(spark):
    from graphulo_spark.linalg import stratified_sample

    sf = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = stratified_sample(docs, ["lang"], "doc_id", 3)
    got = [(r["lang"], r["doc_id"]) for r in out.select("lang", "doc_id").collect()]
    # per-group cap holds
    from collections import Counter
    assert max(Counter(l for l, _ in got).values()) <= 3
    # exact row set matches the hash formula replayed in pure python
    pdf = docs.select("doc_id", "lang").toPandas()
    rank = {
        (int(r.doc_id)): (int(r.doc_id) % 2147483647) * 2654435761 % 1000000007
        for r in pdf.itertuples()
    }
    expected = set()
    for lang in pdf.lang.unique():
        ids = sorted(
            (int(i) for i in pdf[pdf.lang == lang].doc_id),
            key=lambda i: (rank[i], i),
        )
        expected |= {(lang, i) for i in ids[:3]}
    assert set(got) == expected
    # per-partition top-k, not a full per-group sort
    assert "WindowGroupLimit" in out._jdf.queryExecution().executedPlan().toString()


def test_top_k_per_row(edges):
    got = {(r["src"], r["dst"]) for r in top_k_per_row(edges, 1).collect()}
    assert got == {(1, 2), (2, 3), (3, 4), (4, 4)}


def test_canonicalize(spark):
    e = spark.createDataFrame(
        [(2, 1, 1.0), (1, 2, 1.0), (3, 3, 9.0), (1, 3, 2.0)], "src long, dst long, w double"
    )
    got = {(r["src"], r["dst"], r["w"]) for r in canonicalize(e).collect()}
    assert got == {(1, 2, 2.0), (1, 3, 2.0)}


def test_spmv_hot_keys_matches_plain(spark, edges, vec):
    import numpy as np

    a = _dense(EDGES)
    x = np.array([0.0, 1.0, 2.0, 3.0, 4.0])
    want = a.T @ x
    got = {r["v"]: r["x"] for r in spmv(edges, vec, hot_keys=[1, 3]).collect()}
    for d in range(5):
        assert abs(got.get(d, 0.0) - want[d]) < 1e-12


def test_table_mult_rowop_equals_spgemm(spark, edges):
    """RowMultiplyOp path (cogroup + applyInPandas, default outer-product
    body) must agree cell-for-cell with the join+aggregate spgemm — the
    reference's two-implementations-agree discipline for extension points."""
    from graphulo_spark.linalg.rowmult import table_mult_rowop

    want = {(r["src"], r["dst"]): r["w"] for r in spgemm(edges, edges).collect()}
    got = {(r["src"], r["dst"]): r["w"] for r in table_mult_rowop(edges, edges).collect()}
    assert got == want


def test_table_mult_rowop_custom_row_fn(spark, edges):
    """A body only the whole-row extension point can express: emit the cross
    of the matched rows gated on the A-slice's row minimum (RowStartMultiplyOp
    flavor — row-content condition decided before any product)."""
    import numpy as np
    from graphulo_spark.linalg.rowmult import table_mult_rowop

    def gated(ai, aw, bj, bw):
        if aw.min() < 1.0:  # whole-row condition, not per-cell
            return np.array([], dtype="int64"), np.array([], dtype="int64"), np.array([])
        ii = np.repeat(ai, len(bj))
        jj = np.tile(bj, len(ai))
        return ii, jj, np.repeat(aw, len(bj)) * np.tile(bw, len(ai))

    got = {(r["src"], r["dst"]): r["w"]
           for r in table_mult_rowop(edges, edges, row_fn=gated).collect()}
    # rows k=3 (min w = 0.5 < 1) contribute nothing; recompute expectation
    a = _dense(EDGES)
    a_gated = a.copy()
    for k in range(5):
        nz = a[k][a[k] != 0]
        if len(nz) and nz.min() < 1.0:
            a_gated[k] = 0
    want = a_gated.T @ a_gated
    # gating zeroes A rows on BOTH sides (same table passed twice)
    for i in range(5):
        for j in range(5):
            assert abs(got.get((i, j), 0.0) - want[i, j]) < 1e-12
