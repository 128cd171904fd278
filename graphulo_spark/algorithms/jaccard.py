"""All-pairs Jaccard vertex similarity.

Graphulo Jaccard (Graphulo.java:3396-3439): one pass of
JaccardMultiplyIterator computes wedge counts |N(u)∩N(v)| for u<v, then
JaccardDegreeApply normalizes J = c/(d_u + d_v − c) against the degree table
(apply/JaccardDegreeApply.java:28-120 pulls the degree map into memory — here
the degree joins below, which AQE broadcasts when the table is small).

Golden parity (AlgorithmTest.java:562-569 on the 5-vertex fixture):
J(v1,v2)=0.2, J(v1,v3)=0.5, J(v2,v4)=2/3, J(v1,v5)=1/3, …
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphulo_spark.linalg.edges import degrees, symmetrize


def jaccard(edges: DataFrame, *, _cache_registry: list | None = None) -> DataFrame:
    """DataFrame[src, dst, jaccard] for all pairs src<dst with ≥1 common
    neighbor (simple graph semantics: weights ignored).

    The degree table is O(|V|) rows, so it is never hinted for broadcast:
    the degree joins plan as plain joins, and AQE converts them to broadcast
    at runtime when the built side is genuinely small, without risking a
    10⁹-row driver collect.
    (JaccardDegreeApply.java:66-80 holds the whole degree map in RAM only
    because Accumulo iterators have no distributed-join alternative.)

    CACHE OWNERSHIP: the returned plan references a cached symmetrized edge
    table (three join branches); the cache lives until the session ends or
    the caller clears it. A caller that fully consumes the plan can pass
    ``_cache_registry`` (a list) to receive the handle and unpersist it —
    the same contract as triangle_closers/edge_support.
    """
    sym = (
        symmetrize(edges.select("src", "dst", F.lit(1.0).alias("w")), combine="min")
        .select("src", "dst")
        .cache()  # referenced by both wedge sides and the degree table
    )
    if _cache_registry is not None:
        _cache_registry.append(sym)
    # wedges centered at k: neighbor pairs (u < v)
    n1 = sym.select(F.col("src").alias("k"), F.col("dst").alias("u"))
    n2 = sym.select(F.col("src").alias("k"), F.col("dst").alias("v"))
    common = (
        n1.join(n2, "k")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("_c"))
    )
    deg = degrees(sym, by="src")  # |N(v)| on the simple symmetrized graph
    du = deg.select(F.col("v").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("v").alias("v"), F.col("deg").alias("_dv"))
    return (
        common.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            (F.col("_c") / (F.col("_du") + F.col("_dv") - F.col("_c"))).alias("jaccard"),
        )
    )
