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

Convergence is a changed-row count: the round's min aggregate also carries
v's own previous label (a min over the own row only), and after the pointer
jump each row flags ``_chg = label != old``. The superstep harness sums the
flags while it writes the label table, so the test costs no job of its own,
and it works for any orderable id type (long, string, fractional).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.checkpoint import input_fingerprint
from graphulo_spark.linalg.edges import symmetrize
from graphulo_spark.supersteps import Keep, run_supersteps


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
    id type).

    ``input_fp`` overrides the checkpoint input fingerprint (pass the Iceberg
    snapshot fingerprint for catalog-table-derived edges — no data scan).

    ``history`` entries record ``{"step", "changed"}``: ``changed`` is the
    number of vertices whose label the round changed (0 ⟺ fixpoint)."""
    labels = run_supersteps(
        spark, lambda keep: cc_setup(edges, keep),
        max_steps=max_iter, checkpoint_dir=checkpoint_dir, resume=resume,
        params=lambda: {"alg": "cc", "input_fp": input_fp or input_fingerprint(edges, "src", "dst")},
        threshold=0, watch=watch, history=history,
    )
    return labels.select("v", F.col("label").alias("component"))


def cc_setup(
    edges: DataFrame, keep: Keep
) -> tuple[DataFrame, Callable[[DataFrame], DataFrame]]:
    """``(init, step)``: every vertex labelled by itself, and one
    propagate + pointer-jump round as a pure plan from DataFrame[v, label]
    to DataFrame[v, label, _chg]. Both read the edge table ``keep`` holds
    (supersteps.resident)."""
    sym = symmetrize(edges.select("src", "dst", F.lit(1.0).alias("w")), combine="min")
    # static big side of every round's gather join: kept partitioned by the
    # join key so rounds shuffle only the O(|V|) label table (see pagerank)
    sym = keep(sym.select("src", "dst"), "sym_edges", on="src")
    vertices = sym.select(F.col("src").alias("v")).distinct()

    def step(labels: DataFrame) -> DataFrame:
        # only [v, label]: states saved before `_chg` existed have no other column
        labels = labels.select("v", "label")
        # min(own label ∪ neighbor labels) as ONE aggregate: the label table
        # rides into the same map-side-combined min as the gathered neighbor
        # labels (its rows are their own partial mins; the union needs no
        # exchange of its own), and its own-row label comes out as `_old`
        gathered = sym.join(labels.withColumnRenamed("v", "src"), "src").select(
            F.col("dst").alias("v"), "label", F.lit(None).alias("_own")
        )
        new_labels = (
            gathered.unionByName(labels.withColumn("_own", F.col("label")))
            .groupBy("v")
            .agg(F.min("label").alias("label"), F.min("_own").alias("_old"))
        )
        # pointer jump: label ← label(label). label values are vertex ids,
        # so the lookup is a |V|-vs-|V| self-join — chain-shaped components
        # halve every round instead of shrinking by one hop.
        lut = new_labels.select(F.col("v").alias("_pv"), F.col("label").alias("_pl"))
        label = F.coalesce("_pl", "label")
        return new_labels.join(lut, new_labels["label"] == lut["_pv"], "left").select(
            "v", label.alias("label"), (label != F.col("_old")).cast("int").alias("_chg")
        )

    return vertices.select("v", F.col("v").alias("label")), step

