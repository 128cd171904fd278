"""Incidence (edge-table) encoding and its operators.

Graphulo's incidence schema E stores row=edge-id, colQ=prefix|vertex
(`out|v`, `in|v`) to support multi/hyper-edges (Graphulo.java:1279-1528
EdgeBFS, examples/EdgeBFSExample.java). In Spark the packed string keys
become plain columns: DataFrame[edge_id, end ('out'|'in'), v].

LineGraph (Graphulo.java:2011-2033, rowmult/LineRowMultiply.java:29-233)
builds the edge-adjacency graph L(A): vertices are edges of A, connected when
they share an endpoint — a self-join on the shared vertex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.algorithms.bfs import adj_bfs


def to_incidence(edges: DataFrame) -> DataFrame:
    """Adjacency → incidence: [edge_id, end, v]. edge_id is deterministic
    (xxhash64 of the endpoint pair), so re-derivations agree."""
    e = edges.withColumn("edge_id", F.xxhash64("src", "dst"))
    out = e.select("edge_id", F.lit("out").alias("end"), F.col("src").alias("v"))
    inn = e.select("edge_id", F.lit("in").alias("end"), F.col("dst").alias("v"))
    return out.unionByName(inn)


def from_incidence(incidence: DataFrame) -> DataFrame:
    """Incidence → adjacency: [src, dst] (one row per edge_id)."""
    out = incidence.filter(F.col("end") == "out").select("edge_id", F.col("v").alias("src"))
    inn = incidence.filter(F.col("end") == "in").select("edge_id", F.col("v").alias("dst"))
    return out.join(inn, "edge_id").select("src", "dst")


def edge_bfs(
    spark: SparkSession,
    incidence: DataFrame,
    seeds,
    k: int,
    *,
    start_end: str = "out",
    finish_end: str = "in",
) -> DataFrame:
    """k-step BFS over the incidence table (EdgeBFS parity,
    Graphulo.java:1326-1528): frontier vertices match `start_end` entries,
    traverse via edge_id to `finish_end` entries. Returns [v, dist].

    The traversal is the directed adj_bfs over the adjacency those entries
    induce: each `start_end` row joined to its edge's `finish_end` row."""
    starts = incidence.filter(F.col("end") == start_end).select("edge_id", F.col("v").alias("src"))
    ends = incidence.filter(F.col("end") == finish_end).select("edge_id", F.col("v").alias("dst"))
    return adj_bfs(spark, starts.join(ends, "edge_id"), seeds, k, directed=True)


def line_graph(
    edges: DataFrame,
    directed: bool = False,
    max_degree: int | None = None,
    *,
    _cache_registry: list | None = None,
) -> DataFrame:
    """L(A): one row per pair of A-edges sharing an endpoint —
    [e1, e2, shared_v]. directed=True connects only head(e1)→tail(e2)
    (LineRowMultiply's isDirected flag).

    Hub blow-up guard: a degree-d endpoint emits C(d,2) pairs — that is the
    line graph's *definition*, not a plan defect, but one 10^6-degree hub
    means 5·10^11 output rows from a single shared_v key (one straggler
    partition AND an output nobody wants). ``max_degree`` (default off =
    exact semantics) drops shared endpoints above the cap before the
    self-join — the same stop-key discipline as ngram_jaccard_pairs'
    max_shingle_freq (pipeline/dedup.py).

    CACHE OWNERSHIP: the returned plan references a cached edge-id table; a
    caller that fully consumes the plan can pass ``_cache_registry`` (a list)
    to receive the handle and unpersist it (the jaccard contract)."""
    e = edges.withColumn("eid", F.xxhash64("src", "dst")).select("eid", "src", "dst").cache()
    if _cache_registry is not None:
        _cache_registry.append(e)
    if directed:
        a = e.select(F.col("eid").alias("e1"), F.col("dst").alias("shared_v"))
        b = e.select(F.col("eid").alias("e2"), F.col("src").alias("shared_v"))
        if max_degree is not None:
            ok = (
                a.groupBy("shared_v").agg(F.count("*").alias("_d"))
                .join(b.groupBy("shared_v").agg(F.count("*").alias("_d2")), "shared_v", "full")
                .filter(
                    (F.coalesce("_d", F.lit(0)) + F.coalesce("_d2", F.lit(0))) <= max_degree
                )
                .select("shared_v")
            )
            a = a.join(ok, "shared_v", "left_semi")
            b = b.join(ok, "shared_v", "left_semi")
        pairs = a.join(b, "shared_v").filter(F.col("e1") != F.col("e2"))
    else:
        ends = e.select("eid", F.explode(F.array("src", "dst")).alias("shared_v"))
        if max_degree is not None:
            ok = (
                ends.groupBy("shared_v")
                .agg(F.count("*").alias("_d"))
                .filter(F.col("_d") <= max_degree)
                .select("shared_v")
            )
            ends = ends.join(ok, "shared_v", "left_semi")
        x = ends.withColumnRenamed("eid", "e1")
        y = ends.withColumnRenamed("eid", "e2")
        pairs = x.join(y, "shared_v").filter(F.col("e1") < F.col("e2"))
    return pairs.select("e1", "e2", "shared_v").distinct()
