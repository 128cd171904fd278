"""Strongly connected components on a directed edge table.

Reference: SCCGraphulo.java:56-159 computes SCCs by repeated matrix squaring
R_{k+1} = R_k·A (k < rowCount) then R ⊙ R^T — O(n) SpGEMMs over a reachability
table that can be quadratically dense. The Spark-first restatement is
multi-pivot forward-backward coloring with pointer jumping and block
refinement (the distributed FW-BW / Orzan-coloring family, built from the
same join+groupBy SpMV shape as everything else here):

each outer pass, over every current block CONCURRENTLY (one DataFrame job
services all blocks — no per-block driver loop):
  1. fwd(v) = min block-vertex that REACHES v along within-block edges
     (min-label propagation, shortcut fwd ← fwd(fwd) every round — the
     cc.py:91-99 pointer jump, so O(log diameter) rounds, not O(diameter));
  2. bwd(v) = min block-vertex REACHABLE FROM v (same, reversed edges);
  3. fwd(v) == bwd(v) == c  ⇔  c reaches v AND v reaches c  ⇔  v ∈ SCC(c),
     and c is the SCC's minimum id (blocks always contain whole SCCs, and a
     smaller member m would force fwd(v) ≤ m < c). Assign scc = c, remove;
  4. survivors get new block = (old block, fwd, bwd) — same-SCC vertices
     share fwd AND bwd, so refinement never splits an SCC, while vertices
     separated by reachability stop obstructing each other's next pass.

Every block's pivot (its min vertex p: fwd(p) = bwd(p) = p by minimality)
is assigned every pass, so progress is guaranteed; refinement is what makes
the pass count small in practice — a 1024-vertex DAG path finishes in TWO
outer passes (pass 1 assigns the head and splits the rest into singleton
blocks by their distinct bwd labels), where single-pivot peeling needs 1024.
State stays O(|V|) per round — never the reference's (or transitive-closure
doubling's) O(n²) reachability table. Convergence bounds pinned in
tests/test_scc.py (1024-cycle: 1 pass, ≤15 inner rounds; 1024-path: ≤2).

All three loops run on the superstep harness. The outer pass is one state
table [b, v, scc, _chg]: an unassigned vertex has ``_chg`` = 1 and its block
b, an assigned one ``_chg`` = 0 and its scc, so the pass loop stops when the
harness's write-time Σ ``_chg`` reaches 0, with no emptiness test of its
own. Its step runs the pass's fwd and bwd inner loops (each a harness loop
of its own) and returns the next state's plan.
"""

from __future__ import annotations

from contextlib import nullcontext
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.materialize import materialize
from graphulo_spark.supersteps import run_supersteps


def _min_label(
    spark: SparkSession,
    eb: DataFrame,
    verts: DataFrame,
    frm: str,
    to: str,
    max_inner: int,
    watch: "Any | None" = None,
    span: str = "relax",
) -> tuple[DataFrame, bool]:
    """Per-block fixpoint of lbl(v) = min(v, min_{(u,v) ∈ block edges} lbl(u)),
    where "providers" of v are the ``frm``-side endpoints of its ``to``-side
    edges. Exactness comes from the one-hop fixpoint alone; a doubling
    POINTER column accelerates it (parallel list-ranking):

        ptr(v) ∈ Provided*(v)  (transitively reaches v through providers)
        per round:  lbl(v) ← min(lbl(v), min_providers lbl, lbl(ptr(v)))
                    ptr(v) ← ptr(ptr(v))   (pure doubling, unconditionally)

    The naive shortcut lbl ← lbl(lbl(v)) is a NO-OP whenever lbl(v) = v —
    on an id-increasing cycle the backward sweep then crawls one hop per
    round (O(n)); the separate doubling pointer covers chain/cycle shapes in
    O(log n) because ptr advances 2^k provider-hops per round regardless of
    label values. Adversarial branchy graphs can still need up to O(depth)
    rounds (the pointer follows one branch), which is why the caller gets a
    ``converged`` flag and must NOT trust unconverged labels.

    The rounds run on the superstep harness; the Watch counter ``span``
    counts them. eb: [b, src, dst]; verts: [b, v].
    Returns ([b, v, lbl], converged)."""
    # init: lbl = v; ptr = min-id provider (or v itself when none)
    prov0 = (
        eb.groupBy("b", F.col(to).alias("v")).agg(F.min(frm).alias("_p0"))
    )
    init = verts.join(prov0, ["b", "v"], "left").select(
        "b", "v", F.col("v").alias("lbl"), F.coalesce("_p0", F.col("v")).alias("ptr"),
        F.lit(1).alias("_chg"),
    )

    # convergence witness: lbl is monotone non-increasing (every update is
    # F.least), so new != old ⟺ the label moved — a changed-row FLAG that
    # the harness sums while it writes the state, as cc does; it is
    # type-generic (vertex ids here can be strings — scc_transitions). ptr
    # keeps doubling after lbl converges; it was never part of the test.
    def step(labels: DataFrame) -> DataFrame:
        # hop: min provider label this round (the exactness backbone)
        prov = (
            eb.join(labels.withColumnRenamed("v", frm).select("b", frm, "lbl"), ["b", frm])
            .groupBy("b", F.col(to).alias("v"))
            .agg(F.min("lbl").alias("_pl"))
        )
        # pointer chase: lbl(ptr) and ptr(ptr) in one lookup. The pointer
        # ALWAYS doubles — never re-aimed by label comparisons (a "follow the
        # better label" heuristic collapses the chain back to one hop and
        # oscillates; measured on the cycle before this form was pinned).
        lut = labels.select(
            F.col("b").alias("_jb"), F.col("v").alias("_jv"),
            F.col("lbl").alias("_jl"), F.col("ptr").alias("_jp"),
        )
        chased = labels.join(
            lut, (labels["b"] == lut["_jb"]) & (labels["ptr"] == lut["_jv"]), "left"
        ).select("b", "v", "lbl", "ptr", "_jl", "_jp")
        nl = F.least(
            "lbl", F.coalesce("_pl", F.col("lbl")), F.coalesce("_jl", F.col("lbl"))
        )
        return chased.join(prov, ["b", "v"], "left").select(
            "b",
            "v",
            nl.alias("lbl"),
            F.coalesce("_jp", F.col("ptr")).alias("ptr"),
            (nl != F.col("lbl")).cast("int").alias("_chg"),
        )

    history: list[dict[str, Any]] = []
    labels = run_supersteps(
        spark, lambda _keep: (init, step), max_steps=max_inner, threshold=0, history=history
    )
    if watch is not None:
        watch.increment(span, len(history))
    converged = bool(history) and history[-1]["changed"] == 0
    return labels.select("b", "v", "lbl"), converged


def scc(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_outer: int = 50,
    max_inner: int = 100,
    watch: "Any | None" = None,
) -> DataFrame:
    """Returns DataFrame[v, scc] (any orderable id type; string entity
    graphs included); scc = min vertex id in the SCC
    (deterministic canonical assignment, like cc's min-label components)."""
    span = watch.span if watch is not None else (lambda _name: nullcontext())
    e_all = edges.select("src", "dst").distinct().transform(materialize)
    # one state row per vertex: block b, and scc set (with _chg = 0) once
    # assigned; every vertex starts unassigned in block 0
    init = (
        e_all.select(F.col("src").alias("v"))
        .unionByName(e_all.select(F.col("dst").alias("v")))
        .distinct()
        .select(
            F.lit(0).cast("long").alias("b"),
            "v",
            F.lit(None).cast(e_all.schema["src"].dataType).alias("scc"),
            F.lit(1).alias("_chg"),
        )
    )

    def step(state: DataFrame) -> DataFrame:
        remaining = state.filter(F.col("_chg") == 1).select("b", "v")
        # edges restricted to same-block endpoints (within-block edges are
        # real edges, so fwd/bwd certificates below are real reachability)
        eb = (
            e_all.join(remaining.withColumnRenamed("v", "src"), "src")
            .join(
                remaining.withColumnRenamed("v", "dst").withColumnRenamed("b", "_b2"), "dst"
            )
            .filter(F.col("b") == F.col("_b2"))
            .select("b", "src", "dst")
            .transform(materialize)
        )
        with span("outer_pass"):
            fwd, ok_f = _min_label(spark, eb, remaining, "src", "dst", max_inner, watch, "fwd_round")
            bwd, ok_b = _min_label(spark, eb, remaining, "dst", "src", max_inner, watch, "bwd_round")
        if not (ok_f and ok_b):
            # refining on unconverged labels would SPLIT SCCs across blocks
            # (wholeness invariant) — wrong answers, not slow answers. Refuse.
            raise RuntimeError(
                f"scc label propagation did not converge within {max_inner} "
                f"inner rounds — raise max_inner (graph has extreme depth)"
            )
        both = fwd.withColumnRenamed("lbl", "_f").join(
            bwd.withColumnRenamed("lbl", "_b_lbl"), ["b", "v"]
        )
        done = F.col("_f") == F.col("_b_lbl")
        # assign scc = fwd where fwd == bwd; refine the rest: new block =
        # hash(old block, fwd, bwd). Same-SCC vertices share the triple
        # (never split); a hash collision can only MERGE blocks, which is
        # safe (merged blocks are just re-analyzed together).
        return state.filter(F.col("_chg") == 0).unionByName(
            both.select(
                F.xxhash64("b", "_f", "_b_lbl").alias("b"),
                "v",
                F.when(done, F.col("_f")).alias("scc"),
                (~done).cast("int").alias("_chg"),
            )
        )

    history: list[dict[str, Any]] = []
    out = run_supersteps(
        spark, lambda _keep: (init, step), max_steps=max_outer, threshold=0, history=history
    )
    if watch is not None:
        watch.increment("outer_passes", len(history))
    if not history or history[-1]["changed"]:
        # max_outer exhausted — only reachable on adversarial >max_outer-level
        # peeling structures; refuse rather than mislabel survivors
        raise RuntimeError(f"scc did not converge in {max_outer} outer passes")
    return out.select("v", "scc")
