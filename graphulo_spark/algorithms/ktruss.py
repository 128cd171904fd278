"""k-truss subgraph — iterate support filter to fixpoint.

Graphulo kTrussAdj (Graphulo.java:2109-2214): loop { A2 = A^T·A (noDiag);
filter support < k−2 (MinMaxFilter); A = A2 ⊙ A } until nnz fixpoint.
The Fused/Smart variants (Graphulo.java:2294-2428, 2491-2633) exist only to
cram membership+support into one Accumulo value via parity tricks — in Spark
the two are just columns, and the loop is the plain recurrence.

The nnz fixpoint is the superstep harness's write-time witness: the state
keeps the rows a step removed, flagged ``_chg`` = 1, so Σ ``_chg`` is the
round's removed-row count and 0 means nothing was removed. Each step first
drops the rows flagged by the one before; the result is the rows with
``_chg`` = 0. A round's support caches live until the next round starts
(its state is materialized by then) or the loop ends.

Golden parity (AlgorithmTest.java:129,173): 5-vertex fixture 3-truss has
nnz=10 (5 undirected edges), 4-truss after adding v2-v4 has nnz=12.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.algorithms.triangles import edge_support
from graphulo_spark.linalg.edges import canonicalize
from graphulo_spark.supersteps import run_supersteps


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    *,
    max_iter: int = 100,
    watch: Any | None = None,
) -> DataFrame:
    """Canonical (src<dst) edges of the k-truss: every surviving edge is in
    ≥ k−2 triangles of the surviving subgraph. Fixpoint on edge count."""
    caches: list[DataFrame] = []

    def step(state: DataFrame) -> DataFrame:
        _release(caches)
        cur = state.filter(F.col("_chg") == 0).select("src", "dst", F.lit(1.0).alias("w"))
        return edge_support(cur, _cache_registry=caches).select(
            "src", "dst", (F.col("support") < k - 2).cast("int").alias("_chg")
        )

    init = canonicalize(edges).select("src", "dst", F.lit(0).alias("_chg"))
    try:
        return run_supersteps(
            spark, lambda _keep: (init, step), max_steps=max_iter, threshold=0, watch=watch
        ).filter(F.col("_chg") == 0).select("src", "dst")
    finally:
        _release(caches)


def _release(caches: list[DataFrame]) -> None:
    """Unpersist the support caches of the round before: the loop would
    otherwise accrete 3 cached tables per round in executor storage."""
    while caches:
        caches.pop().unpersist()


def ktruss_edge(
    spark: SparkSession,
    incidence: DataFrame,
    k: int,
    *,
    max_iter: int = 100,
) -> DataFrame:
    """kTrussEdge (Graphulo.java:3248-3379): the k-truss fixpoint run with the
    state RESIDENT IN THE INCIDENCE ENCODING — the loop filters incidence rows
    by surviving edge ids each iteration (the reference keeps its E table and
    deletes weak edge rows), reconstructing the adjacency view only to score
    support. Returns the surviving incidence rows [edge_id, end, v].

    Equality with the adjacency-path ktruss() is asserted in tests — the
    reference's own cross-implementation check (TriangleCountExample.java
    pattern, AlgorithmTest.java:236-409).
    """
    caches: list[DataFrame] = []

    def step(state: DataFrame) -> DataFrame:
        _release(caches)
        cur = state.filter(F.col("_chg") == 0).select("edge_id", "end", "v")
        # endpoints per surviving edge row, support scored in canonical space
        ends = (
            cur.filter(F.col("end") == "out")
            .select("edge_id", F.col("v").alias("_u"))
            .join(cur.filter(F.col("end") == "in").select("edge_id", F.col("v").alias("_v")), "edge_id")
            .select(
                "edge_id",
                F.least("_u", "_v").alias("src"),
                F.greatest("_u", "_v").alias("dst"),
            )
        )
        sup_ok = (
            edge_support(canonicalize(ends.withColumn("w", F.lit(1.0))), _cache_registry=caches)
            .filter(F.col("support") >= k - 2)
            .select("src", "dst")
        )
        # an edge id has one row per end, so the left join adds no row
        keep_ids = ends.join(sup_ok, ["src", "dst"], "left_semi").select(
            "edge_id", F.lit(0).alias("_chg")
        )
        return cur.join(keep_ids, "edge_id", "left").fillna(1, subset=["_chg"])

    init = incidence.select("edge_id", "end", "v", F.lit(0).alias("_chg"))
    try:
        return run_supersteps(
            spark, lambda _keep: (init, step), max_steps=max_iter, threshold=0
        ).filter(F.col("_chg") == 0).select("edge_id", "end", "v")
    finally:
        _release(caches)
