"""Superstep state truncation that keeps Catalyst planning O(1) per round
AND keeps the state's physical partitioning visible to the next round.

Every iterative algorithm here materializes its loop state each round so the
next round plans against a flat input (Graphulo's temp-table ping-pong,
Graphulo.java:2131-2208). The obvious Spark tool is
``DataFrame.localCheckpoint()`` — but in Spark 4.x the Dataset checkpoint
carries the ORIGIN PLAN'S ESTIMATED STATISTICS into the LogicalRDD it
returns. For a loop that is catastrophic: each round's joins multiply the
carried ``sizeInBytes`` estimates, the BigInt's bit length grows ~3-5× per
checkpoint GENERATION (not per plan node), and after ~20 cumulative rounds
the driver spends minutes per job inside ``BigInteger.multiply`` while
"planning" a 33-row join. Measured on this engine's SCC loop: round times
1 s → 25 s → 120 s on identical 33-row inputs; reliable ``checkpoint()``
exhibits the same blowup (it also preserves origin stats).

``materialize()`` therefore localCheckpoints (truncating lineage and pinning
the data in executor storage) and then REBUILDS the DataFrame over the
checkpointed RDD with fresh, unknown statistics. Unknown is also the honest
estimate — loop state sizes aren't knowable from the origin plan — and AQE
re-plans join strategies from true runtime sizes anyway, so nothing is lost.

What the rebuild now KEEPS (round 4) is ``outputPartitioning``: a PageRank /
CC / label-prop superstep ends in a groupBy or join keyed on the vertex id,
so its output is already hash-partitioned on exactly the key the NEXT
superstep's join needs. ``Dataset.localCheckpoint`` records that partitioning
in the LogicalRDD (so EnsureRequirements can elide the next round's
exchange); the round-3 stats-free rebuild built a bare LogicalRDD with
``UnknownPartitioning`` and silently re-shuffled O(|V|) state rows every
superstep. Copying the checkpoint's (already attribute-rewritten)
partitioning and ordering into the stats-free LogicalRDD removes that
exchange wherever the loop's partition count is stable — the dominant
per-superstep shuffle-byte term in the resident-edge-layout plan.

The rebuild constructs ``LogicalRDD`` directly over the checkpointed RDD
(JVM-side only, no data movement; the class is ``private[sql]`` in Scala but
accessible — Scala access modifiers don't survive into the JVM calling
convention py4j uses). If the internals are unavailable (Spark Connect,
future versions), we fall back to the plain localCheckpoint: still correct,
still partitioning-preserving, just exposed to the stats blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ASPE = "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec"


def _partitioning(df: DataFrame, jplan):
    """Best-known outputPartitioning for the checkpointed plan ``jplan``.

    ``LogicalRDD.fromDataset`` copies ``executedPlan.outputPartitioning`` —
    but under AQE the executed plan is an AdaptiveSparkPlanExec, whose
    ``outputPartitioning`` is the SparkPlan default UnknownPartitioning even
    after execution, so every adaptive query checkpoints as "unknown" and the
    next superstep re-shuffles state that is already correctly partitioned.
    The final physical plan knows the real answer; when the checkpoint came
    through unknown, read ``finalPhysicalPlan().outputPartitioning()`` and
    use it verbatim — valid only when the final plan's output attributes are
    exprId-identical (positionally) to the checkpoint's, which is the normal
    case (exprIds survive optimization); on any mismatch keep Unknown, which
    is exactly today's behavior (correct, one avoidable exchange)."""
    part = jplan.outputPartitioning()
    if not part.toString().startswith("UnknownPartitioning"):
        return part
    ep = df._jdf.queryExecution().executedPlan()
    if ep.getClass().getName() != _ASPE:
        return part
    final = ep.finalPhysicalPlan()
    f_out, l_out = final.output(), jplan.output()
    if f_out.length() != l_out.length():
        return part
    for i in range(f_out.length()):
        if f_out.apply(i).exprId().id() != l_out.apply(i).exprId().id():
            return part
    # The final plan's partitioning can be a PartitioningCollection (join
    # outputs satisfy several distributions at once). LogicalRDD.fromDataset
    # normalizes that to its FIRST LEAF precisely because iterative
    # checkpoint-rebuild loops otherwise nest collections inside collections,
    # growing the partitioning expression exponentially across generations —
    # mirror that normalization here.
    return _first_leaf(final.outputPartitioning())


_PARTITIONING_COLLECTION = (
    "org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection"
)


def _first_leaf(part):
    """LogicalRDD.fromDataset's firstLeafPartitioning: descend a
    PartitioningCollection to its first non-collection member, so rebuilt
    loop state never carries (and re-nests) the whole collection."""
    while part.getClass().getName() == _PARTITIONING_COLLECTION:
        part = part.partitionings().head()
    return part


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` (localCheckpoint) and return a DataFrame
    over the checkpointed data whose plan carries NO inherited statistics
    but DOES carry the data's physical partitioning and ordering.

    The eager localCheckpoint runs first and unguarded — it performs the
    row-copying materialization (``toRdd`` iterators reuse UnsafeRow
    buffers; caching without the checkpoint's internal ``.map(_.copy())``
    silently corrupts any downstream operator that buffers rows) and, being
    outside the try, a real execution failure (executor OOM, corrupt input)
    surfaces once instead of being silently retried through the fallback.
    The try covers ONLY the JVM reflection that strips the origin statistics
    out of the checkpoint's LogicalRDD while copying its output attributes,
    RDD, partitioning, and ordering verbatim (all already rewritten to the
    checkpoint's attribute ids by ``LogicalRDD.fromDataset``)."""
    ck = df.localCheckpoint()
    try:
        session = df.sparkSession
        jvm = session._jvm
        jplan = ck._jdf.queryExecution().analyzed()
        if jplan.getClass().getName() != "org.apache.spark.sql.execution.LogicalRDD":
            return ck
        none = jvm.scala.Option.empty()
        part = _partitioning(df, jplan)
        stripped = jvm.org.apache.spark.sql.execution.LogicalRDD(
            jplan.output(),
            jplan.rdd(),
            part,
            jplan.outputOrdering(),
            jplan.isStreaming(),
            jplan.stream(),
            session._jsparkSession,
            none,  # originStats: the compounding-BigInteger carrier
            none,  # originConstraints
        )
        jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            session._jsparkSession, stripped
        )
        return DataFrame(jdf, session)
    except Exception:  # Spark Connect / API drift: correctness over speed
        return ck
