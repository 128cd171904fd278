"""k-truss subgraph — iterate support filter to fixpoint.

Graphulo kTrussAdj (Graphulo.java:2109-2214): loop { A2 = A^T·A (noDiag);
filter support < k−2 (MinMaxFilter); A = A2 ⊙ A } until nnz fixpoint.
The Fused/Smart variants (Graphulo.java:2294-2428, 2491-2633) exist only to
cram membership+support into one Accumulo value via parity tricks — in Spark
the two are just columns, and the loop is the plain recurrence.

Golden parity (AlgorithmTest.java:129,173): 5-vertex fixture 3-truss has
nnz=10 (5 undirected edges), 4-truss after adding v2-v4 has nnz=12.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.algorithms.triangles import edge_support
from graphulo_spark.linalg.edges import canonicalize
from graphulo_spark.supersteps import checkpointer, run_supersteps


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    *,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    watch: Any | None = None,
) -> DataFrame:
    """Canonical (src<dst) edges of the k-truss: every surviving edge is in
    ≥ k−2 triangles of the surviving subgraph. Fixpoint on edge count."""
    ckpt = checkpointer(spark, checkpoint_dir, lambda: {"alg": "ktruss", "k": k}, resume=False)
    caches: list[DataFrame] = []

    def step(cur: DataFrame) -> DataFrame:
        return (
            edge_support(cur.withColumn("w", F.lit(1.0)), _cache_registry=caches)
            .filter(F.col("support") >= k - 2)
            .select("src", "dst")
        )

    return run_supersteps(
        canonicalize(edges).select("src", "dst"), step, max_steps=max_iter, ckpt=ckpt,
        converged=_count_fixpoint(caches, DataFrame.count), watch=watch,
    )


def _count_fixpoint(caches: list[DataFrame], count: Callable[[DataFrame], int]):
    """Fixpoint on ``count(state)``, carried from round to round (the first
    round counts the start state too). ``caches`` registers the round's
    support caches: they die with the round (the loop would otherwise accrete
    3 cached tables per round in executor storage), released once its state
    is materialized."""
    n: int | None = None

    def converged(new: DataFrame, old: DataFrame) -> tuple[bool, dict[str, Any]]:
        nonlocal n
        while caches:
            caches.pop().unpersist()
        if n is None:
            n = count(old)
        m = count(new)
        done, n = m == n, m
        return done, {}

    return converged


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

    def step(cur: DataFrame) -> DataFrame:
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
        keep_ids = ends.join(sup_ok, ["src", "dst"], "left_semi").select("edge_id")
        return cur.join(keep_ids, "edge_id", "left_semi")

    return run_supersteps(
        incidence.select("edge_id", "end", "v"), step, max_steps=max_iter,
        converged=_count_fixpoint(caches, lambda s: s.select("edge_id").distinct().count()),
    )
