"""SpMV — the inner kernel of every superstep.

Graphulo expresses y = A^T ⊕.⊗ x as TableMult with a 1-column B table
(Graphulo.java:316-422 → TwoTableIterator row-mode merge join →
RemoteWriteIterator shuffle-by-write). Spark restatement (SURVEY.md §3.1):

    edges.join(vec, edges.src == vec.v)
         .groupBy(edges.dst)
         .agg(sum(w * x))

The join is a shuffled hash join that never broadcasts the vector, so the
plan holds at any |V|; the map-side partial sums of the two-phase hash
aggregate are Graphulo's LruCacheIterator pre-sum
(skvi/LruCacheIterator.java:29-274), built in here.

Skew: power-law graphs have hub vertices whose src key matches millions of
edge rows. ``hot_keys`` splits those hubs off: their edges join a broadcast of
the (tiny) hub slice of the vector, and only the non-hub edges go through the
shuffle join — the Graphulo power-law split (Graphulo.java:2701-2739) applied
to the join. ``hub_keys`` is the shared gate that picks them. AQE skew-join
splitting stays on as a second line of defense.

The groupBy side (hot dst) is already safe: partial aggregation combines a
hub's contributions map-side before the shuffle.

Zero-drop: Graphulo's MathTwoScalar discards zero results unless keepZero
(simplemult/MathTwoScalar.java:300-307) — sparsity preservation. Mirrored by
``drop_zeros``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def spmv(
    edges: DataFrame,
    vec: DataFrame,
    *,
    transpose: bool = False,
    plus: str = "sum",
    drop_zeros: bool = True,
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
    agg = {"sum": F.sum, "min": F.min, "max": F.max}[plus]
    joined = _products(edges, vec, transpose=transpose, hot_keys=hot_keys)
    out = joined.groupBy(F.col("_to").alias("v")).agg(agg("_contrib").alias("x"))
    if drop_zeros:
        out = out.filter(F.col("x") != 0.0)
    return out


def _products(
    edges: DataFrame, vec: DataFrame, *, transpose: bool = False, hot_keys: list | None = None
) -> DataFrame:
    """The unreduced terms of ``spmv``: DataFrame[_to, _contrib], one
    w(src,dst)·x[src] row per edge whose gather key is in ``vec``. A caller
    that folds rows of its own into the ⊕ aggregate (pagerank carries the
    previous rank through it) unions them here, before the one exchange."""
    gather_from, gather_to = ("dst", "src") if transpose else ("src", "dst")

    hot_contrib = None
    if hot_keys:
        hot_vec = vec.filter(vec["v"].isin(*hot_keys))
        hot_edges = edges.filter(edges[gather_from].isin(*hot_keys))
        hot_contrib = hot_edges.join(
            F.broadcast(hot_vec), hot_edges[gather_from] == hot_vec["v"], "inner"
        ).select(hot_edges[gather_to].alias("_to"), (hot_edges["w"] * hot_vec["x"]).alias("_contrib"))
        edges = edges.filter(~edges[gather_from].isin(*hot_keys))

    # Hint shuffled-hash: a sort-merge join would sort the |E|-row side only
    # to feed a hash aggregate — wasted work. SHJ builds the hash table on the
    # vector side (|V|/numPartitions rows per task — fits executor memory by
    # construction at any scale).
    joined = edges.join(vec.hint("shuffle_hash"), edges[gather_from] == vec["v"], "inner").select(
        edges[gather_to].alias("_to"), (edges["w"] * vec["x"]).alias("_contrib")
    )
    return joined if hot_contrib is None else joined.unionByName(hot_contrib)
