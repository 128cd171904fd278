"""SpMV — the inner kernel of every superstep.

Graphulo expresses y = A^T ⊕.⊗ x as TableMult with a 1-column B table
(Graphulo.java:316-422 → TwoTableIterator row-mode merge join →
RemoteWriteIterator shuffle-by-write). Spark restatement (SURVEY.md §3.1):

    edges.join(vec, edges.src == vec.v)
         .groupBy(edges.dst)
         .agg(sum(w * x))

Catalyst plans the join (broadcast when the vector is small) and a two-phase
hash aggregate (map-side partial sums == Graphulo's LruCacheIterator pre-sum,
skvi/LruCacheIterator.java:29-274 — but built-in here).

Skew: power-law graphs have hub vertices whose src key matches millions of
edge rows. Three defenses, chosen by ``strategy``:

- 'broadcast': vector broadcast to every task — no shuffle of the edge table
  at all, no skew possible on the join. Right whenever the vector fits in
  executor memory (rank vectors are ~16 bytes/vertex — fine up to ~10^8
  vertices on 4 GB executors).
- 'salted': replicate each vector row NSALT times with a salt column and give
  each edge a salt derived from the *other* endpoint; the join key becomes
  (v, salt) so one hub's edges spread over NSALT reducers. This is the same
  trick as Graphulo triCountMagic2's reversed-byte row scatter
  (Graphulo.java:2990-3084, UpperTriTwoJoin.java:125-135) — explicit skew
  salting — generalized to the join instead of the table layout.
- 'auto': broadcast below ``broadcast_threshold`` distinct vertices (when the
  caller supplies ``vec_count``), salted above, plain shuffled-hash join when
  the size is unknown (safe at any scale — never guess-broadcast). AQE
  skew-join splitting stays on as a second line of defense.

The groupBy side (hot dst) is already safe: partial aggregation combines a
hub's contributions map-side before the shuffle.

Zero-drop: Graphulo's MathTwoScalar discards zero results unless keepZero
(simplemult/MathTwoScalar.java:300-307) — sparsity preservation. Mirrored by
``drop_zeros``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_NSALT = 16
DEFAULT_BROADCAST_THRESHOLD = 5_000_000
STRATEGIES = ("auto", "broadcast", "salted", "plain")


def hub_keys(edges: DataFrame, n_parts: int, key: str = "src") -> list:
    """Gather-side hub vertices: keys owning more than ~1/(4·n_parts) of all
    edge rows (min 1000), i.e. the keys that would make one shuffle partition
    a straggler. Bounded: at most 4·n_parts keys can exceed the threshold.
    ONE degree pass answers |E| and max-degree together; the list itself is
    collected only when a hub exists, so the hub-free common case costs a
    single job. This is the shared gate behind pagerank's hot-key routing
    and the skew-stress tests (the Graphulo power-law-split weighting,
    Graphulo.java:2701-2739, applied to the join)."""
    deg = edges.groupBy(key).agg(F.count("*").alias("d"))
    stats = deg.agg(
        F.coalesce(F.sum("d"), F.lit(0)).alias("m"),
        F.coalesce(F.max("d"), F.lit(0)).alias("mx"),
    ).collect()[0]
    thr = max(1000, int(stats["m"]) // (4 * n_parts))
    if int(stats["mx"]) <= thr:
        return []
    return [r[key] for r in deg.filter(F.col("d") > thr).select(key).collect()]


def salted_join(
    edges: DataFrame,
    vec: DataFrame,
    key: str = "src",
    nsalt: int = DEFAULT_NSALT,
) -> DataFrame:
    """Skew-resistant equi-join of edges[key] against vec.v.

    vec is exploded nsalt× (small: one row per vertex) and each edge picks a
    deterministic salt from its other endpoint, so a hub vertex's edges are
    spread across nsalt join partitions. Returns edges columns + vec's x.
    """
    other = "dst" if key == "src" else "src"
    vec_rep = vec.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1))))
    e = edges.withColumn("_salt", F.pmod(F.xxhash64(F.col(other)), F.lit(nsalt)).cast("int"))
    joined = e.join(
        vec_rep,
        (e[key] == vec_rep["v"]) & (e["_salt"] == vec_rep["_salt"]),
        "inner",
    )
    return joined.select(e["src"], e["dst"], e["w"], vec_rep["x"])


def spmv(
    edges: DataFrame,
    vec: DataFrame,
    *,
    transpose: bool = False,
    plus: str = "sum",
    drop_zeros: bool = True,
    strategy: str = "auto",
    nsalt: int = DEFAULT_NSALT,
    broadcast_threshold: int = DEFAULT_BROADCAST_THRESHOLD,
    vec_count: int | None = None,
    hot_keys: list[int] | None = None,
) -> DataFrame:
    """y[dst] = ⊕_{src} w(src,dst) ⊗ x[src]  (transpose=True gathers on src).

    ⊗ is multiplication; ⊕ ∈ {sum, min, max} (Graphulo MathTwoScalar PLUS /
    MIN / MAX fold, simplemult/MathTwoScalar.java:36-39).

    ``hot_keys``: explicit hub-vertex ids on the gather side. Their edges are
    routed through a broadcast of the (tiny) hub slice of the vector instead
    of the shuffle join, so no shuffle partition owns a hub's entire edge
    list — the straggler killer for power-law graphs. Callers that loop
    (pagerank etc.) compute the hub set ONCE from the static degree
    distribution and pass it every superstep.
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown spmv strategy {strategy!r}; expected one of {STRATEGIES}")
    gather_from, gather_to = ("dst", "src") if transpose else ("src", "dst")

    hot_contrib = None
    if hot_keys:
        hot_vec = vec.filter(vec["v"].isin(*hot_keys))
        hot_edges = edges.filter(edges[gather_from].isin(*hot_keys))
        hot_contrib = hot_edges.join(
            F.broadcast(hot_vec), hot_edges[gather_from] == hot_vec["v"], "inner"
        ).select(hot_edges[gather_to].alias("_to"), (hot_edges["w"] * hot_vec["x"]).alias("_contrib"))
        edges = edges.filter(~edges[gather_from].isin(*hot_keys))

    if strategy == "auto":
        if vec_count is None:
            # unknown vector size: the safe default is the plain shuffled-hash
            # join (correct at ANY size); broadcast only when the caller has
            # proven the vector small via vec_count
            strategy = "plain"
        else:
            strategy = "broadcast" if vec_count <= broadcast_threshold else "salted"

    if strategy == "broadcast":
        joined = edges.join(F.broadcast(vec), edges[gather_from] == vec["v"], "inner").select(
            edges[gather_to].alias("_to"), (edges["w"] * vec["x"]).alias("_contrib")
        )
    elif strategy == "salted":
        j = salted_join(edges, vec, key=gather_from, nsalt=nsalt)
        joined = j.select(F.col(gather_to).alias("_to"), (F.col("w") * F.col("x")).alias("_contrib"))
    else:  # plain
        # plain distributed join. Hint shuffled-hash: a sort-merge join would
        # sort the |E|-row side only to feed a hash aggregate — wasted work.
        # SHJ builds the hash table on the vector side (|V|/numPartitions rows
        # per task — fits executor memory by construction at any scale).
        joined = edges.join(vec.hint("shuffle_hash"), edges[gather_from] == vec["v"], "inner").select(
            edges[gather_to].alias("_to"), (edges["w"] * vec["x"]).alias("_contrib")
        )

    if hot_contrib is not None:
        joined = joined.unionByName(hot_contrib)

    agg = {"sum": F.sum, "min": F.min, "max": F.max}[plus]
    out = joined.groupBy(F.col("_to").alias("v")).agg(agg("_contrib").alias("x"))
    if drop_zeros:
        out = out.filter(F.col("x") != 0.0)
    return out

