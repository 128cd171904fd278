"""All-pairs Jaccard vertex similarity.

Graphulo Jaccard (Graphulo.java:3396-3439): one pass of
JaccardMultiplyIterator computes wedge counts |N(u)∩N(v)| for u<v, then
JaccardDegreeApply normalizes J = c/(d_u + d_v − c) against the degree table
(apply/JaccardDegreeApply.java:28-120 pulls the degree map into memory — the
broadcast join below).

Golden parity (AlgorithmTest.java:562-569 on the 5-vertex fixture):
J(v1,v2)=0.2, J(v1,v3)=0.5, J(v2,v4)=2/3, J(v1,v5)=1/3, …
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphulo_spark.linalg.edges import degrees, symmetrize

DEFAULT_BROADCAST_THRESHOLD = 5_000_000


def jaccard(
    edges: DataFrame,
    *,
    vertex_count: int | None = None,
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
    _cache_registry: list | None = None,
) -> DataFrame:
    """DataFrame[src, dst, jaccard] for all pairs src<dst with ≥1 common
    neighbor (simple graph semantics: weights ignored).

    The degree table is O(|V|) rows, so it is broadcast only when the caller
    proves it small (``vertex_count`` ≤ ``broadcast_threshold``): never
    guess-broadcast. Unknown size → plain join; AQE still converts to
    broadcast at runtime when the built side is genuinely small, without
    risking a 10⁹-row driver collect.
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
    if vertex_count is not None and vertex_count <= broadcast_threshold:
        deg = F.broadcast(deg)
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
