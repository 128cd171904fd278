"""Connected components — exact min-label assignment, with pointer jumping.

This is the reference's "connected components" capability (SCCGraphulo.java:
56-159 computes components by iterated SpGEMM R_{k+1} = R_k·A; SURVEY.md §2.1
SCC row). Spark restatement: min-label propagation *with per-round pointer
jumping* (Shiloach-Vishkin shortcutting — the large-star/small-star idea
applied to the label table):

    propagate: label(v) ← min(label(v), min_{u~v} label(u))      (SpMV over
               the (min, select) semiring — join + groupBy(min))
    shortcut:  label(v) ← label(label(v))                        (one self-join)

Every label value is a vertex id in v's own component, so label(label(v)) is
also a same-component id and labels only ever decrease — the fixpoint (no
change in a round) is exactly the propagation fixpoint: label(v) == min vertex
id in v's component. A canonical, deterministic assignment ("exact" per the
north rule). Labels stay LONG end-to-end (vertex ids are 64-bit hashes;
doubles would lose exactness).

Pointer jumping makes long-chain components converge in O(log diameter)
rounds instead of O(diameter) — the difference between 20 and 10^6 shuffles
on a path-shaped component at web scale. Each round is 3 bounded shuffles
(gather join, min-aggregate, shortcut join), all O(|V|+|E|) volume.

Convergence is detected by *label mass*, not a row-diff join: every label is
a vertex id in v's own component and both steps only ever lower it
(propagate takes least(); shortcut substitutes label(label(v)) ≤ label(v)
because label(u) ≤ u holds inductively for all u), so Σ label is strictly
decreasing until the fixpoint and "no label changed" ⟺ "Σ label unchanged".
That turns the old per-round |V|-vs-|V| equality join into one map-side
partial aggregate over the already-materialized label table — no extra
shuffle, no second pass. The sum runs in decimal(38,0) so it stays exact
for any realistic |V| (long ids ≤ 9.2e18, 1e19+ rows before overflow).
The mass witness needs NUMERIC vertex ids; for other id types (string
entity graphs) cc falls back to the type-generic changed-row diff join.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.checkpoint import SuperstepCheckpointer, input_fingerprint
from graphulo_spark.linalg.edges import symmetrize
from graphulo_spark.supersteps import checkpointer, run_supersteps


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    history: list | None = None,
    watch: Any | None = None,
    input_fp: str | None = None,
) -> DataFrame:
    """Returns DataFrame[v, component] (component = min id; any orderable
    id type — numeric ids use the label-mass witness, others the diff join).

    ``input_fp`` overrides the checkpoint input fingerprint (pass the Iceberg
    snapshot fingerprint for catalog-table-derived edges — no data scan).

    ``history`` entries record ``{"step", "changed"}``; what ``changed``
    measures follows the witness in use (0 ⟺ fixpoint either way): for
    INTEGRAL vertex ids it is the round's *label-mass delta*
    Σ label_{k-1} − Σ label_k (see module docstring), while the
    string/fractional-id fallback records a *changed-row count* from the
    diff join — history consumers comparing magnitudes across id types
    would be comparing different quantities."""
    ckpt = checkpointer(
        spark,
        checkpoint_dir,
        lambda: {"alg": "cc", "input_fp": input_fp or input_fingerprint(edges, "src", "dst")},
        resume,
    )
    caches: list[DataFrame] = []
    try:
        init, step = cc_setup(spark, edges, ckpt=ckpt, resume=resume, _cache_registry=caches)
        labels = run_supersteps(
            init, step, max_steps=max_iter, ckpt=ckpt, resume=resume,
            converged=_fixpoint(init.schema["label"].dataType),
            watch=watch, history=history,
        )
        return labels.withColumnRenamed("label", "component")
    finally:
        for c in caches:
            c.unpersist()


def cc_setup(
    spark: SparkSession,
    edges: DataFrame,
    *,
    ckpt: SuperstepCheckpointer | None = None,
    resume: bool = False,
    _cache_registry: list | None = None,
) -> tuple[DataFrame, Callable[[DataFrame], DataFrame]]:
    """``(init, step)``: every vertex labelled by itself, and one
    propagate + pointer-jump round as a pure plan over DataFrame[v, label].
    Both reference the cached edge table; ``_cache_registry`` (a list)
    receives its handle (see pagerank_setup)."""
    sym = symmetrize(edges.select("src", "dst", F.lit(1.0).alias("w")), combine="min")
    sym = sym.select("src", "dst")
    if ckpt:
        sym = ckpt.side_input("sym_edges", sym, resume=resume)
    # static big side of every round's gather join: partition by the join key
    # once so rounds shuffle only the O(|V|) label table (see pagerank)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = sym.repartition(n_parts, "src").cache()
    if _cache_registry is not None:
        _cache_registry.append(sym)
    vertices = sym.select(F.col("src").alias("v")).distinct()

    def step(labels: DataFrame) -> DataFrame:
        # min(own label ∪ neighbor labels) as ONE aggregate: the label table
        # rides into the same map-side-combined min as the gathered neighbor
        # labels (its rows are their own partial mins), replacing the former
        # per-round |V|-vs-|V| left join against the aggregated neighbor
        # minima (r6; guide §2.4 — the union needs no exchange of its own,
        # and least()/coalesce() completion logic disappears with the join)
        gathered = sym.join(labels.withColumnRenamed("v", "src"), "src").select(
            F.col("dst").alias("v"), "label"
        )
        new_labels = (
            gathered.unionByName(labels).groupBy("v").agg(F.min("label").alias("label"))
        )
        # pointer jump: label ← label(label). label values are vertex ids,
        # so the lookup is a |V|-vs-|V| self-join — chain-shaped components
        # halve every round instead of shrinking by one hop.
        lut = new_labels.select(F.col("v").alias("_pv"), F.col("label").alias("_pl"))
        return new_labels.join(lut, new_labels["label"] == lut["_pv"], "left").select(
            "v", F.coalesce("_pl", "label").alias("label")
        )

    return vertices.select("v", F.col("v").alias("label")), step


def _fixpoint(label_type) -> Callable[[DataFrame, DataFrame], tuple[bool, dict[str, Any]]]:
    """The round's convergence test, dispatched on the label type.

    The decimal label-mass sum needs INTEGRAL vertex ids (a fractional id
    would round under the decimal(38,0) cast, so a real label change could
    alias to a zero mass delta and break the loop before the fixpoint);
    strings and fractional numerics fall back to the type-generic changed-row
    diff join — correct for any orderable type, one extra |V|-vs-|V| join per
    round on that (rare, small) input class. The mass test carries the
    previous round's Σ label (the first round sums the start state too)."""
    integral = _is_integral(label_type)
    prev_sum = None

    def converged(new: DataFrame, old: DataFrame) -> tuple[bool, dict[str, Any]]:
        nonlocal prev_sum
        if integral:
            if prev_sum is None:
                prev_sum = _label_mass(old)
            new_sum = _label_mass(new)
            changed = int(prev_sum - new_sum)
            prev_sum = new_sum
        else:
            changed = (
                new.withColumnRenamed("label", "_nl")
                .join(old, "v")
                .filter(F.col("_nl") != F.col("label"))
                .count()
            )
        return changed == 0, {"changed": changed}

    return converged


def _is_integral(dt) -> bool:
    from pyspark.sql.types import DecimalType, IntegralType

    # scale-0 decimals are exact under the decimal(38,0) witness cast too
    return isinstance(dt, IntegralType) or (
        isinstance(dt, DecimalType) and dt.scale == 0
    )


def _label_mass(labels: DataFrame):
    """Σ label in exact decimal — the monotone convergence witness. One
    map-side-partial aggregate over the materialized label table (vs the
    former |V|-vs-|V| equality join per round). Integral vertex ids only —
    cc() falls back to a diff join for string/fractional id types."""
    row = labels.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).collect()
    return row[0]["s"] or 0  # empty graph → NULL sum → 0
