"""Synchronous label propagation with deterministic tie-breaking.

Community-detection flavor of the reference's BFS/label machinery
(GatherReducer frontier collection, reducer/GatherReducer.java:14-84, run as a
loop). Update rule, applied synchronously to every vertex per superstep:

    label_{t+1}(v) = argmax_{l} Σ_{u~v, label_t(u)=l} w(u,v)
                     ties broken by the SMALLEST label

Deterministic by construction (SURVEY.md §7.3 "genuinely hard parts" (a)):
synchronous update + fixed tie-break ⇒ bit-identical assignments across runs
and cluster sizes, which is what makes "exact parity" testable. Fixed
iteration count (LPA can oscillate on bipartite structures). Numeric vertex
ids take the one-aggregate max_by argmax; string ids (entity graphs) keep a
sort-window argmax — same winner rule, see the superstep comment.
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
    """Returns DataFrame[v: long, label: long] after ``iters`` supersteps.

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
    init, step = label_prop_setup(spark, edges, ckpt=ckpt, resume=resume)
    return run_supersteps(init, step, max_steps=iters, ckpt=ckpt, resume=resume, watch=watch)


def label_prop_setup(
    spark: SparkSession,
    edges: DataFrame,
    *,
    ckpt: SuperstepCheckpointer | None = None,
    resume: bool = False,
) -> tuple[DataFrame, Callable[[DataFrame], DataFrame]]:
    """``(init, step)``: every vertex labelled by itself, and one synchronous
    vote superstep as a pure plan over DataFrame[v, label]."""
    sym = symmetrize(edges, combine="sum")
    if ckpt:
        sym = ckpt.side_input("sym_edges", sym, resume=resume)
    # static big side of every round's vote join: partition by the join key
    # once so rounds shuffle only the O(|V|) label table (see pagerank)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = sym.repartition(n_parts, "src").cache()

    vertices = sym.select(F.col("src").alias("v")).distinct()
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(vertices.schema["v"].dataType, NumericType)

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
        # String vertex ids have no cheap order inversion for the tie-break,
        # so they keep the sort-window argmax (entity graphs — small |V|).
        if numeric_ids:
            # min_by over (-weight, label): heaviest vote, smallest label on
            # ties. The weight (a double) is what gets negated — exact and
            # overflow-free — instead of the label, whose negation would
            # overflow for a Long.MIN_VALUE vertex id (ADVICE r5).
            return votes.groupBy("v").agg(
                F.min_by(
                    "label", F.struct((-F.col("_wt")).alias("_nw"), F.col("label"))
                ).alias("label")
            )
        from pyspark.sql import Window

        w_rank = Window.partitionBy("v").orderBy(F.col("_wt").desc(), F.col("label").asc())
        return (
            votes.withColumn("_rk", F.row_number().over(w_rank))
            .filter(F.col("_rk") == 1)
            .select("v", "label")
        )

    return vertices.select("v", F.col("v").alias("label")), step
