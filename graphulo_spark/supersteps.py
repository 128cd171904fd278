"""The one superstep loop every iterative algorithm runs.

Graphulo has a single loop shape, the client-driven temp-table ping-pong of
kTrussAdj and NMF (Graphulo.java:2131-2208): build the superstep plan,
truncate lineage by writing its result, optionally checkpoint, test the
fixpoint. The algorithms contribute only their setup and a pure
``step(state) -> DataFrame``; per superstep the harness adds exactly one
driver action, the state materialization. Watch names are shared by every
loop: spans ``superstep`` (materialization) and ``converge`` (fixpoint test),
counter ``supersteps``. Loops whose ``step`` flags the rows it changed share
one convergence test, ``flag_fixpoint``.

``materialize`` and ``SuperstepCheckpointer.save`` are looked up at call time,
never captured as defaults, so anything that wraps them after import still
sees every call.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import nullcontext
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.checkpoint import SuperstepCheckpointer
from graphulo_spark.materialize import materialize


def checkpointer(
    spark: SparkSession,
    checkpoint_dir: str | None,
    params: Callable[[], dict[str, Any]],
    resume: bool,
) -> SuperstepCheckpointer | None:
    """A prepared checkpointer for ``checkpoint_dir`` (None without one).

    ``params`` is called only when there is a directory: its input
    fingerprint costs a pass over the edges. ``prepare`` runs before any side
    input is written: a fresh run sweeps the stale ``step=K`` dirs and
    ``side/`` tables of an earlier run and stamps ``_RUN.json``; a resume
    refuses a params/input hash mismatch."""
    if not checkpoint_dir:
        return None
    ckpt = SuperstepCheckpointer(spark, checkpoint_dir, params())
    ckpt.prepare(resume)
    return ckpt


def run_supersteps(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_steps: int,
    ckpt: SuperstepCheckpointer | None = None,
    resume: bool = False,
    converged: Callable[[DataFrame, DataFrame], tuple[bool, dict[str, Any]]] | None = None,
    watch: Any | None = None,
    history: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Run ``step`` from ``init`` for supersteps 1..``max_steps`` and return
    the last materialized state.

    With ``resume`` and a checkpoint holding a complete superstep K, the loop
    continues from K's state (``init`` is never evaluated) and runs
    K+1..``max_steps``; otherwise ``init`` is materialized as step 0.
    ``converged(new, previous) -> (done, stats)`` runs after each superstep;
    ``history`` collects one ``{"step": k, **stats}`` entry per superstep."""
    span = watch.span if watch is not None else (lambda _name: nullcontext())
    state = None
    start = 0
    if ckpt is not None and resume:
        latest = ckpt.latest_step()
        if latest is not None:
            start = latest
            state = ckpt.load(latest)
    if state is None:
        state = ckpt.save(0, init) if ckpt is not None else materialize(init)

    for k in range(start + 1, max_steps + 1):
        plan = step(state)
        with span("superstep"):
            new = ckpt.save(k, plan) if ckpt is not None else materialize(plan)
        if watch is not None:
            watch.increment("supersteps")
        done, stats = False, {}
        if converged is not None:
            with span("converge"):
                done, stats = converged(new, state)
        if history is not None:
            history.append({"step": k, **stats})
        state = new
        if done:
            break
    return state


def flag_fixpoint(new: DataFrame, old: DataFrame) -> tuple[bool, dict[str, Any]]:
    """Fixpoint on a per-row change flag: ``step`` sets ``_chg`` = 1 on every
    row it changed, and the loop stops once no row did. One map-side partial
    aggregate over the materialized state, for any column types (no diff
    join against ``old``). Stats: ``{"changed": Σ _chg}``."""
    changed = new.agg(F.sum("_chg")).collect()[0][0] or 0
    return changed == 0, {"changed": changed}
