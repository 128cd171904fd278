"""Deterministic synthetic conversation-transcript generator (FIXTURES.md §1).

Schema: (conv_id: string, turn_idx: int, role: string, text: string,
tool: string nullable, ts: timestamp). Everything is a pure function of
(seed, conv_id, turn_idx) computed with JVM-side expressions (xxhash64,
sequence, transform) — no Python in the row path, so generation at 10^9+
turns is embarrassingly parallel off a spark.range().

Conversation lengths follow a capped Zipf (s≈1.5) via inverse-transform on a
hashed uniform, so hub entities and skewed conversations exist at every scale
(the skew the SpMV hub split must handle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "exec", "browse", "read", "write", "plan"]
BASE_EPOCH = 1767225600  # 2026-01-01T00:00:00Z


def generate_transcripts(
    spark: SparkSession,
    n_convs: int,
    *,
    seed: int = 42,
    min_len: int = 2,
    cap_len: int = 64,
    zipf_s: float = 1.5,
    vocab: int = 1000,
    tokens_per_turn: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """One row per turn; deterministic for a given (n_convs, seed, …)."""
    convs = spark.range(0, n_convs, 1, num_partitions or spark.sparkContext.defaultParallelism)
    convs = convs.select("id", F.format_string("c%08d", F.col("id")).alias("conv_id"))

    # capped Zipf length: u ∈ (0,1] hashed; len = min(cap, ceil(min_len·u^(−1/(s−1))))
    u = (F.pmod(F.xxhash64(F.col("conv_id"), F.lit(seed)), F.lit(1_000_000)) + 1) / 1_000_000.0
    length = F.least(
        F.lit(cap_len),
        F.greatest(F.lit(min_len), F.ceil(F.lit(float(min_len)) * F.pow(u, F.lit(-1.0 / (zipf_s - 1.0))))),
    ).cast("int")
    convs = convs.withColumn("_len", length)

    # global turn counter for ts: cumulative length of all earlier conv_ids.
    # Two-level prefix sum instead of a global window (which would funnel all
    # conversation rows through ONE task): spark.range partitions are
    # contiguous id slices, so global offset = (sum of earlier partitions'
    # totals) + (within-partition cumsum by id). The cross-partition prefix is
    # a |partitions|-row window — bounded, broadcast-joined back. Values are
    # identical to the single-window formulation at any parallelism level.
    convs = convs.withColumn("_pid", F.spark_partition_id())
    part_tot = convs.groupBy("_pid").agg(F.sum("_len").alias("_tot"), F.min("id").alias("_mid"))
    wp = Window.orderBy("_mid").rowsBetween(Window.unboundedPreceding, -1)
    part_pre = part_tot.select("_pid", F.coalesce(F.sum("_tot").over(wp), F.lit(0)).alias("_pre"))
    wl = Window.partitionBy("_pid").orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    convs = convs.join(F.broadcast(part_pre), "_pid").withColumn(
        "_offset", F.col("_pre") + F.coalesce(F.sum("_len").over(wl), F.lit(0))
    )

    turns = convs.select(
        "conv_id",
        "_offset",
        F.posexplode(F.sequence(F.lit(0), F.col("_len") - 1)).alias("turn_idx", "_"),
    ).drop("_")

    h = F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(seed))
    role_arr = F.array(*[F.lit(r) for r in ROLES])
    # cycle user→assistant→tool, perturbed: ~25% of turns take a hashed role
    cycle_idx = F.pmod(F.col("turn_idx"), F.lit(3))
    pert_idx = F.pmod(h, F.lit(3))
    role = F.element_at(role_arr, (F.when(F.pmod(h, 4) == 0, pert_idx).otherwise(cycle_idx) + 1).cast("int"))

    tool_arr = F.array(*[F.lit(t) for t in TOOLS])
    h2 = F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(seed + 1))
    tool = (
        F.when(role == "tool", F.element_at(tool_arr, (F.pmod(h2, len(TOOLS)) + 1).cast("int")))
        .when(F.pmod(h2, 10) == 0, F.element_at(tool_arr, (F.pmod(h2, len(TOOLS)) + 1).cast("int")))
        .otherwise(F.lit(None).cast("string"))
    )

    token_idx = F.sequence(F.lit(0), F.lit(tokens_per_turn - 1))
    text = F.concat_ws(
        " ",
        F.transform(
            token_idx,
            lambda i: F.concat(
                F.lit("t"),
                F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx"), i, F.lit(seed + 2)), F.lit(vocab)),
            ),
        ),
    )

    ts = F.timestamp_seconds(F.lit(BASE_EPOCH) + F.col("_offset") + F.col("turn_idx"))

    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
