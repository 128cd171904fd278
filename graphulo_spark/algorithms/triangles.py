"""Exact triangle counting.

Graphulo triCount (Graphulo.java:2766-2849): upper-triangularize A,
self-multiply with UpperTriTwoJoin (emits wedge closers for cq < cq'), sum,
odd-untransform. Golden fixture answer = 2 on the 5-vertex graph
(AlgorithmTest.java:236-262).

Spark-first restatement: orient each undirected edge once, count paths of
length 2 that are closed by an oriented edge. Edges point from low
(degree, id) to high (degree, id). Every triangle is still counted exactly
once, and the set of triangles matches the id-order SQL oracle, but wedge
fan-out at power-law hubs collapses: a hub only *receives* oriented edges,
so it generates no wedges (the same skew concern Graphulo attacks with
setPowerLawTriangleSplits, Graphulo.java:2701-2739 — split weight d(d-1)/2
is exactly the wedge count this orientation minimizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphulo_spark.linalg.edges import canonicalize


def _oriented(edges: DataFrame, *, _cache_registry: list | None = None) -> DataFrame:
    canon = canonicalize(edges).select("src", "dst")
    # the orientation references canon THREE times (both degree-union
    # branches and the orientation join) — without a cache Spark re-executes
    # the whole upstream edge derivation per reference (no common-
    # subexpression reuse across join branches), which dominated the sf0.1
    # triangle count. CACHE OWNERSHIP: registered with the caller's
    # _cache_registry when given, else lives until session end (the same
    # contract as triangle_closers' oriented-edge cache).
    canon = canon.cache()
    if _cache_registry is not None:
        _cache_registry.append(canon)
    # (deg, id) total order; edge points low → high.
    # Degree of v == its row count across both endpoint columns of the
    # canonical table — a union of two single-column projections feeding one
    # map-side-combined count, instead of the former symmetrize(canon) +
    # degrees(by='src') which paid a full (src,dst)-keyed shuffle of 2|E|
    # rows just to count neighbors (r6 opt; edge-set equality pinned in
    # tests/test_algorithms.py).
    deg = (
        canon.select(F.col("src").alias("v"))
        .unionAll(canon.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("double").alias("deg"))
    )
    e = (
        canon.join(deg.withColumnRenamed("v", "src").withColumnRenamed("deg", "ds"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("deg", "dd"), "dst")
    )
    lo_first = (F.col("ds") < F.col("dd")) | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
    return e.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


def _wedges(e: DataFrame) -> DataFrame:
    """Length-2 oriented paths [a, b, c] over an oriented edge table — the
    single source of truth for both triangle-counting paths below."""
    a = e.alias("e1")
    b = e.alias("e2")
    return a.join(b, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("a"), F.col("e1.dst").alias("b"), F.col("e2.dst").alias("c")
    )


def _closer(e: DataFrame) -> DataFrame:
    return e.select(F.col("src").alias("a"), F.col("dst").alias("c"))


# Closer-join plan threshold, in ORIENTED-EDGE rows. Below it the count
# runs as a broadcast forward-adjacency intersection (_edges_with_adjacency):
# the oriented out-neighbor lists (~16 B/edge — same budget class as a
# broadcast closer-edge hash, the usual broadcast-dim allowance on 4-8 GB
# executors) ship to every task and each oriented edge (a,b) emits
# N⁺(a) ∩ N⁺(b) directly, so the O(Σ d_out²) wedge table (49M rows from
# 1.2M edges at sf0.1 — it dominated the whole count through r5) is never
# materialized: per-edge work is O(d⁺(a)+d⁺(b)) inside one codegen stage.
# Above the threshold, fall back to the shuffled wedge path with wedge
# counts pre-aggregated by (a, c) before the closer join.
DEFAULT_CLOSER_BROADCAST_THRESHOLD = 4_000_000


def _forward_adjacency(e: DataFrame) -> DataFrame:
    """Out-neighbor lists of the oriented edge table: [_v, _nbrs]."""
    return e.groupBy(F.col("src").alias("_v")).agg(F.collect_list("dst").alias("_nbrs"))


def _edges_with_adjacency(e: DataFrame) -> DataFrame:
    """Each oriented edge joined (broadcast) with BOTH endpoints' oriented
    out-neighbor lists: [src, dst, _na, _nb]. The dst join is inner: an
    endpoint with no out-edges closes no triangle (the wedge formulation
    required the same e2.src match). Broadcast is explicit — the caller
    gates on oriented-edge count, not on Spark's size estimate."""
    adj = _forward_adjacency(e)
    a = adj.select(F.col("_v").alias("_va"), F.col("_nbrs").alias("_na"))
    b = adj.select(F.col("_v").alias("_vb"), F.col("_nbrs").alias("_nb"))
    return (
        e.join(F.broadcast(a), e["src"] == F.col("_va"))
        .join(F.broadcast(b), e["dst"] == F.col("_vb"))
        .select("src", "dst", "_na", "_nb")
    )


def _oriented_plan(edges: DataFrame, caches: list | None) -> tuple[DataFrame, bool]:
    """``(e, broadcast)``: the oriented edge table, cached (either closer plan
    references it three times) and registered with ``caches`` when given, and
    whether its row count is within DEFAULT_CLOSER_BROADCAST_THRESHOLD."""
    e = _oriented(edges, _cache_registry=caches).cache()
    if caches is not None:
        caches.append(e)
    return e, e.count() <= DEFAULT_CLOSER_BROADCAST_THRESHOLD


def triangle_closers(edges: DataFrame, *, _cache_registry: list | None = None) -> DataFrame:
    """DataFrame of one row per triangle (a<b<c in the orientation order):
    columns (a, b, c). Exact, each triangle exactly once.

    Up to DEFAULT_CLOSER_BROADCAST_THRESHOLD oriented edges, the oriented
    adjacency lists ship to every task and are intersected per edge (wedges
    never materialize — each surviving (a, b, c) is emitted straight from
    N⁺(a) ∩ N⁺(b), in exactly the rows the wedge-join formulation produces).
    Above it, wedges are joined against the closer set distributed (any |E|).

    CACHE OWNERSHIP: the returned plan references a cached oriented-edge
    table; the cache lives until the session ends or the caller clears it
    (``spark.catalog.clearCache()``). Fine for one-shot queries; a
    long-lived session looping over many graphs should prefer
    ``triangle_count()``, which unpersists before returning."""
    e, broadcast = _oriented_plan(edges, _cache_registry)
    if broadcast:
        # (a,b) oriented edge, c ∈ N⁺(a) ∩ N⁺(b): b precedes c (c ∈ N⁺(b)),
        # so the emitted (a,b,c) is orientation-ordered — identical to the
        # wedge path's (e1.src, e1.dst, e2.dst) rows (equality pinned in
        # tests/test_algorithms.py).
        return _edges_with_adjacency(e).select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.explode(F.array_intersect("_na", "_nb")).alias("c"),
        )
    return _wedges(e).join(_closer(e), ["a", "c"], "inner").select("a", "b", "c")


def triangle_count(edges: DataFrame) -> int:
    """Total exact triangle count (parity: AlgorithmTest.java:259 == 2).

    broadcast path (|E| under threshold): one broadcast-adjacency join and a
    single scalar aggregate Σ |N⁺(a) ∩ N⁺(b)| over oriented edges — wedges
    never materialize (49M rows at sf0.1 through r5; see
    DEFAULT_CLOSER_BROADCAST_THRESHOLD). shuffle path (huge |E|):
    pre-aggregate wedges by (a, c) before the distributed closer join, so
    the shuffle ships one (a, c, n) row per endpoint pair instead of one
    row per wedge."""
    caches: list[DataFrame] = []
    try:
        e, broadcast = _oriented_plan(edges, caches)
        if broadcast:
            row = (
                _edges_with_adjacency(e)
                .agg(F.sum(F.size(F.array_intersect("_na", "_nb"))).alias("t"))
                .collect()[0]
            )
            return int(row["t"] or 0)
        wedge_counts = _wedges(e).groupBy("a", "c").agg(F.count("*").alias("n"))
        total = (
            wedge_counts.join(_closer(e), ["a", "c"]).agg(F.sum("n").alias("t")).collect()[0]["t"]
        )
        return int(total or 0)
    finally:
        for c in caches:
            c.unpersist()


def triangle_count_via_support(edges: DataFrame) -> int:
    """triCountAdjEdge (Graphulo.java:2869-2948): the count recovered from the
    edge-table side — every triangle contributes support to exactly 3 edges,
    so Σ support / 3 == triangle count. A genuinely different execution path
    from triangle_closers' wedge-close; equality is asserted in tests (the
    reference's TriangleCountExample.java cross-check)."""
    caches: list[DataFrame] = []
    try:
        sup = edge_support(edges, _cache_registry=caches)
        total = sup.agg(F.sum("support").alias("s")).collect()[0]["s"]
        return int(total or 0) // 3
    finally:
        # this path fully consumes the support plan — release its caches
        for c in caches:
            c.unpersist()


def edge_support(edges: DataFrame, *, _cache_registry: list | None = None) -> DataFrame:
    """Per-edge triangle participation count (k-truss support), canonical
    (src<dst) key space. Edges in no triangle get support 0.

    Wedges are generated under the DEGREE orientation — under id order a
    power-law hub fans out O(d²) wedges, the exact blowup Graphulo's
    d(d-1)/2 split weighting attacks (Graphulo.java:2701-2739). The triangle
    set is orientation-invariant, so each triangle's three vertex pairs are
    re-canonicalized to id order (least/greatest) when emitting support.

    CACHE OWNERSHIP: the returned plan references two caches (canonical
    edges + triangle set; plus triangle_closers' oriented-edge cache), live
    until session end / ``spark.catalog.clearCache()``. A caller that fully
    consumes the plan can pass ``_cache_registry`` (a list) to receive the
    handles and unpersist them — see triangle_count_via_support."""
    canon = canonicalize(edges).select("src", "dst").cache()
    # feed the CACHED canon (not the raw edges) into the closer derivation:
    # canonicalize is idempotent and _oriented's degree table counts rows
    # (not weights), so the triangle set is identical — but the upstream
    # edge derivation now executes once instead of twice per pass
    tris = triangle_closers(  # cached: used by 3 union branches
        canon.withColumn("w", F.lit(1.0)), _cache_registry=_cache_registry
    ).cache()
    if _cache_registry is not None:
        _cache_registry.extend([canon, tris])
    # each triangle contributes support to its 3 edges; (a,b,c) is ordered by
    # (degree, id), so canonicalize each pair back to the id-ordered key space
    def _pair(x: str, y: str) -> DataFrame:
        return tris.select(
            F.least(F.col(x), F.col(y)).alias("src"),
            F.greatest(F.col(x), F.col(y)).alias("dst"),
        )

    sup = (
        _pair("a", "b")
        .unionAll(_pair("b", "c"))
        .unionAll(_pair("a", "c"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("support"))
    )
    return canon.join(sup, ["src", "dst"], "left").fillna(0, subset=["support"])
