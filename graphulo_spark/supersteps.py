"""The one superstep loop every iterative algorithm but NMF runs.

Graphulo has a single loop shape, the client-driven temp-table ping-pong of
kTrussAdj and NMF (Graphulo.java:2131-2208): build the superstep plan,
truncate lineage by writing its result, optionally checkpoint, test the
fixpoint. The harness owns everything around the plan. It builds and
prepares the checkpointer, and hands the algorithm's ``setup`` one
``keep(df, name=None, on=None)``: the side-input write, resident layout and
cache of every table a loop reads in each superstep, all released when the
loop ends. ``setup`` returns the start state and ``step(state) ->
DataFrame``, a pure plan for every loop but scc's outer pass, whose step
runs its two inner loops before it returns the pass's plan. Per superstep
the harness adds exactly one driver action, the state materialization.
Watch names are shared by every loop: spans ``superstep`` (materialization)
and ``converge`` (reading the convergence witness), counter ``supersteps``.

There is one convergence test. A loop that converges has its ``step`` emit a
non-negative per-row column ``_chg`` (a changed-row flag, or a rank's
absolute change) and passes a ``threshold``. The harness observes Σ ``_chg``
on the superstep plan while the state is written, as Graphulo's kTrussAdj/NMF
count the entries ``RemoteWriteIterator`` writes (Graphulo.java:2198,
3776-3788), so the test runs no Spark job of its own.

``materialize`` and ``SuperstepCheckpointer.save`` are looked up at call time,
never captured as defaults, so anything that wraps them after import still
sees every call.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.checkpoint import SuperstepCheckpointer
from graphulo_spark.materialize import materialize


Keep = Callable[..., DataFrame]
Step = Callable[[DataFrame], DataFrame]


@contextmanager
def resident(
    spark: SparkSession,
    ckpt: SuperstepCheckpointer | None = None,
    resume: bool = False,
) -> Iterator[Keep]:
    """Yields ``keep(df, name=None, on=None)`` for the tables a loop reads in
    every superstep, and unpersists every kept table on exit.

    ``keep`` writes checkpoint side input ``name`` (or, on resume, reuses it)
    when there is a checkpointer, hash-partitions on column ``on`` into the
    session's shuffle-partition count (the count a superstep's join requires,
    so EnsureRequirements reuses the layout), and caches the result. Every
    superstep's state is materialized, so what a loop returns never
    references a kept table."""
    kept: list[DataFrame] = []

    def keep(df: DataFrame, name: str | None = None, on: str | None = None) -> DataFrame:
        if name is not None and ckpt is not None:
            df = ckpt.side_input(name, df, resume=resume)
        if on is not None:
            df = df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), on)
        df = df.cache()
        kept.append(df)
        return df

    try:
        yield keep
    finally:
        for df in kept:
            df.unpersist()


def run_supersteps(
    spark: SparkSession,
    setup: Callable[[Keep], tuple[DataFrame, Step | None]],
    *,
    max_steps: int,
    checkpoint_dir: str | None = None,
    params: Callable[[], dict[str, Any]] | None = None,
    resume: bool = False,
    threshold: float | None = None,
    watch: Any | None = None,
    history: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Run the loop ``setup(keep)`` returns, ``(init, step)``, for supersteps
    1..``max_steps`` and return the last materialized state. A setup that
    finds nothing to iterate returns ``step`` None, and ``init`` comes back
    as is.

    With a ``checkpoint_dir``, every state is saved there. ``params`` is
    called only then (its input fingerprint costs a pass over the edges),
    and the run is prepared before ``setup`` writes any side input: a fresh
    run sweeps the stale ``step=K`` dirs and ``side/`` tables of an earlier
    run and stamps ``_RUN.json``; a resume refuses a params/input hash
    mismatch. With ``resume`` and a checkpoint holding a complete superstep
    K, the loop continues from K's state (``init`` is never evaluated) and
    runs K+1..``max_steps``; otherwise ``init`` is materialized as step 0.

    With a ``threshold``, each superstep plan is observed for Σ ``_chg``
    while it is materialized or saved, and the loop stops once that sum is
    ≤ ``threshold`` (an empty state sums to 0). A retried task can only
    overcount a sum of non-negative terms, so a retry may delay the stop but
    never stops a loop early; ``_chg`` must therefore never be negative.
    ``history`` collects one ``{"step": k}`` entry per superstep, with
    ``"changed": Σ _chg`` when there is a threshold."""
    ckpt = None
    if checkpoint_dir:
        ckpt = SuperstepCheckpointer(spark, checkpoint_dir, params())
        ckpt.prepare(resume)
    span = watch.span if watch is not None else (lambda _name: nullcontext())
    with resident(spark, ckpt, resume) as keep:
        init, step = setup(keep)
        if step is None:
            return init
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
            if threshold is not None:
                witness = Observation()
                plan = plan.observe(witness, F.sum("_chg").alias("changed"))
            with span("superstep"):
                state = ckpt.save(k, plan) if ckpt is not None else materialize(plan)
            if watch is not None:
                watch.increment("supersteps")
            entry: dict[str, Any] = {"step": k}
            if threshold is not None:
                with span("converge"):
                    entry["changed"] = witness.get["changed"] or 0
            if history is not None:
                history.append(entry)
            if threshold is not None and entry["changed"] <= threshold:
                break
        return state
