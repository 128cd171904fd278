"""k-step BFS with degree filtering — Graphulo AdjBFS, SingleBFS and EdgeBFS.

Reference: AdjBFS (Graphulo.java:1014-1223), SingleBFS (1729-1904) and
EdgeBFS (1326-1528) compute the same k-hop distances and differ only in how
the reference stores them (frontier string + result table, one distance
table, incidence table). Here all three are one (min, +1) distance
recurrence over a single state table [v, dist, _chg] on the superstep
harness: each step gathers from the frontier rows (``_chg`` = 1, the vertices
first reached last step) over the degree-gated edges, a vertex that has a
``dist`` keeps it, and the loop stops at k steps or when no vertex is newly
reached. The degree gate (filterTextsDegreeTable:1239-1276 with
MinMaxFilter) is applied once, to the edges' sources, before the loop.
EdgeBFS (linalg/incidence.py::edge_bfs) runs this loop over the adjacency its
incidence rows induce.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.linalg.edges import degrees, symmetrize
from graphulo_spark.supersteps import flag_fixpoint, run_supersteps


def adj_bfs(
    spark: SparkSession,
    edges: DataFrame,
    seeds: Iterable[int] | DataFrame,
    k: int,
    *,
    directed: bool = False,
    min_degree: int | None = None,
    max_degree: int | None = None,
) -> DataFrame:
    """Vertices reachable within k hops: DataFrame[v: long, dist: int].

    Seeds (repeats ignored) get dist 0. A frontier vertex is only *expanded*
    if its out-degree lies in [min_degree, max_degree] (Graphulo's ADegtable
    filter semantics — the degree gate applies to the node being traversed
    through, not to the nodes reached).
    """
    g = (edges if directed else symmetrize(edges)).select("src", "dst")
    if min_degree is not None or max_degree is not None:
        deg = degrees(g, by="src")
        if min_degree is not None:
            deg = deg.filter(F.col("deg") >= min_degree)
        if max_degree is not None:
            deg = deg.filter(F.col("deg") <= max_degree)
        g = g.join(deg.select(F.col("v").alias("src")), "src", "left_semi")
    # loop-scoped cache, released on exit: every step's state is
    # materialize()d, so the returned table never references it
    g = g.cache()

    if isinstance(seeds, DataFrame):
        seeds = seeds.select(F.col(seeds.columns[0]).cast("long").alias("v"))
    else:
        seeds = spark.createDataFrame([(int(s),) for s in seeds], "v long")
    init = seeds.distinct().select("v", F.lit(0).alias("dist"), F.lit(1).alias("_chg"))

    def step(state: DataFrame) -> DataFrame:
        frontier = state.filter(F.col("_chg") == 1).select(F.col("v").alias("src"), "dist")
        reached = (
            g.join(frontier, "src")
            .groupBy(F.col("dst").alias("v"))
            .agg((F.min("dist") + 1).alias("_nd"))
        )
        return state.join(reached, "v", "full").select(
            "v",
            F.coalesce("dist", "_nd").alias("dist"),
            F.col("dist").isNull().cast("int").alias("_chg"),
        )

    try:
        return run_supersteps(init, step, max_steps=k, converged=flag_fixpoint).select(
            "v", "dist"
        )
    finally:
        g.unpersist()
