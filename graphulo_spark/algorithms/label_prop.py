"""Synchronous label propagation with deterministic tie-breaking.

Community-detection flavor of the reference's BFS/label machinery
(GatherReducer frontier collection, reducer/GatherReducer.java:14-84, run as a
loop). Update rule, applied synchronously to every vertex per superstep:

    label_{t+1}(v) = argmax_{l} Σ_{u~v, label_t(u)=l} w(u,v)
                     ties broken by the SMALLEST label

Deterministic by construction (SURVEY.md §7.3 "genuinely hard parts" (a)):
synchronous update + fixed tie-break ⇒ bit-identical assignments across runs
and cluster sizes, which is what makes "exact parity" testable. Fixed
iteration count (LPA can oscillate on bipartite structures). The argmax is
one ``min_by`` aggregate for any orderable id type, numeric or string (entity
graphs) — see the superstep comment.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.checkpoint import SuperstepCheckpointer, input_fingerprint
from graphulo_spark.linalg.edges import symmetrize
from graphulo_spark.linalg.spmv import hub_keys
from graphulo_spark.supersteps import checkpointer, run_supersteps


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    *,
    iters: int = 5,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    watch: Any | None = None,
    input_fp: str | None = None,
) -> DataFrame:
    """Returns DataFrame[v, label] after ``iters`` supersteps; both columns
    have the input's vertex id type (numeric or string).

    ``input_fp`` overrides the checkpoint input fingerprint (pass the
    Iceberg snapshot fingerprint for catalog-table-derived edges)."""
    # note: iters is NOT part of the params hash — resuming with a larger
    # iteration budget is a legitimate continuation (like pagerank max_iter)
    ckpt = checkpointer(
        spark,
        checkpoint_dir,
        lambda: {"alg": "lp", "input_fp": input_fp or input_fingerprint(edges, "src", "dst", "w")},
        resume,
    )
    caches: list[DataFrame] = []
    try:
        init, step = label_prop_setup(spark, edges, ckpt=ckpt, resume=resume, _cache_registry=caches)
        return run_supersteps(init, step, max_steps=iters, ckpt=ckpt, resume=resume, watch=watch)
    finally:
        for c in caches:
            c.unpersist()


def label_prop_setup(
    spark: SparkSession,
    edges: DataFrame,
    *,
    ckpt: SuperstepCheckpointer | None = None,
    resume: bool = False,
    _cache_registry: list | None = None,
) -> tuple[DataFrame, Callable[[DataFrame], DataFrame]]:
    """``(init, step)``: every vertex labelled by itself, and one synchronous
    vote superstep as a pure plan over DataFrame[v, label]. Both reference
    the cached edge table; ``_cache_registry`` (a list) receives its handle
    (see pagerank_setup)."""
    sym = symmetrize(edges, combine="sum")
    if ckpt:
        sym = ckpt.side_input("sym_edges", sym, resume=resume)
    # static big side of every round's vote join: partition by the join key
    # once so rounds shuffle only the O(|V|) label table (see pagerank)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = sym.repartition(n_parts, "src").cache()
    if _cache_registry is not None:
        _cache_registry.append(sym)

    vertices = sym.select(F.col("src").alias("v")).distinct()

    # Vote-shuffle plan, decided ONCE from the static degree distribution
    # (r6, guide §2.4/§2.5): when no gather vertex is a hub, a single
    # explicit repartition on dst lets BOTH aggregates below (per-label sums,
    # then the argmax) run exchange-free — hash(dst) satisfies the clustering
    # of (v, label) and of (v) — so each superstep shuffles the vote rows
    # once instead of shipping (dst,label) partials and then re-shuffling
    # them on v (measured 3.61 s → 2.76 s per 5-superstep run at sf0.1,
    # interleaved A/B). With a hub (the shared linalg.spmv.hub_keys gate:
    # degree above ~1/(4·parts) of all edges) that plan would funnel the
    # hub's whole vote set into one task, so the two-exchange path — whose
    # (dst,label) keying spreads a hub across its distinct neighbor labels
    # and map-side-combines before every exchange — stays the fallback.
    # ``sym`` is symmetric, so its src degrees are its dst (vote) degrees,
    # and it is already partitioned on src.
    single_shuffle = not hub_keys(sym, n_parts, key="src")

    def step(labels: DataFrame) -> DataFrame:
        gathered = sym.join(labels.withColumnRenamed("v", "src"), "src")
        if single_shuffle:
            gathered = gathered.select("dst", "label", "w").repartition(n_parts, "dst")
        votes = gathered.groupBy(F.col("dst").alias("v"), "label").agg(
            F.sum("w").alias("_wt")
        )
        # argmax by (weight desc, label asc) as ONE aggregate — map-side
        # partial combine, no per-vertex sort window. And on
        # a symmetrized edge-derived graph every vertex is some edge's dst,
        # so the winner table IS the complete new label table — the former
        # vertices-left-join-winner-left-join-old completion (two |V|-vs-|V|
        # joins per superstep) was provably dead weight.
        # min_by over (-weight, label): heaviest vote, smallest label on ties.
        # Only the weight (a double) is negated, so any orderable id type
        # works, strings included, and a Long.MIN_VALUE id cannot overflow.
        return votes.groupBy("v").agg(
            F.min_by(
                "label", F.struct((-F.col("_wt")).alias("_nw"), F.col("label"))
            ).alias("label")
        )

    return vertices.select("v", F.col("v").alias("label")), step
