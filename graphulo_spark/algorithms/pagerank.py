"""PageRank as a superstep SpMV loop with per-superstep checkpoint/resume.

Each superstep is Graphulo TableMult with a 1-column vector table
(SURVEY.md §3.1) restated as join + groupBy-sum; convergence is the client
nnz/delta fixpoint loop of kTrussAdj/NMF (Graphulo.java:2198, 3776-3788)
restated as an L1-delta test on the harness's write-time witness.

Semantics (classic power iteration / NetworkX definition):
    r_0(v)    = 1/n
    r_{t+1}(v) = (1-α)/n + α·( Σ_{u→v} w(u,v)/W_out(u) · r_t(u) + D_t/n )
where D_t is the rank mass on dangling vertices (no out-edges) and W_out the
weighted out-degree. Stops when Σ_v |r_{t+1}(v) − r_t(v)| ≤ tol.

Execution shape per superstep:
- transition weights are normalized ONCE before the loop, hash-partitioned
  on src and cached, so the join reuses the edges' layout and each superstep
  shuffles only the O(|V|) rank vector and the aggregate output, never the
  O(|E|) edges — the Spark analog of Graphulo keeping A resident in tablet
  order across all TableMult scans;
- hub sources, found ONCE by linalg.spmv.hub_keys from the static degree
  distribution, join a broadcast of their slice of the rank vector instead
  of the shuffle (spmv ``hot_keys``), so no shuffle partition owns a hub's
  edge list;
- dangling mass needs no extra pass: weights are row-normalized so
  Σ contrib = 1 − D_t; the scalar enters the plan as a broadcast single-row
  cross join (no driver round-trip);
- the previous rank rides into the SpMV aggregate as one extra row per
  vertex with no contribution, so every vertex (in-edges or not) gets a row
  and each row carries its own ``_chg`` = |r_{t+1}(v) − r_t(v)| — no join
  of new against old ranks;
- materializing the new state (localCheckpoint or checkpoint parquet)
  truncates lineage every superstep (Graphulo's temp-table ping-pong,
  Graphulo.java:2131-2208), which is what keeps superstep k's cost flat in
  k. It is the superstep's only job at any ``tol``: with ``tol > 0`` the
  harness sums ``_chg`` while the state is written;
- with a checkpoint_dir, state is re-read from the superstep's parquet, so an
  interrupted+resumed run executes byte-identical superstep inputs to an
  uninterrupted one (tested bitwise).

The loop itself is graphulo_spark.supersteps.run_supersteps; this module
contributes the setup and the pure superstep plan.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.checkpoint import input_fingerprint
from graphulo_spark.linalg.spmv import _products, hub_keys
from graphulo_spark.supersteps import Keep, run_supersteps


def _normalized_edges(edges: DataFrame) -> DataFrame:
    """nw(src,dst) = w / Σ_dst w(src,·) — row-stochastic transition weights."""
    out_w = edges.groupBy("src").agg(F.sum("w").alias("_ow"))
    return edges.join(out_w, "src").select("src", "dst", (F.col("w") / F.col("_ow")).alias("w"))


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    history: list[dict[str, Any]] | None = None,
    watch: "Any | None" = None,
    input_fp: str | None = None,
) -> DataFrame:
    """Returns DataFrame[v: long, rank: double]; Σ rank = 1.

    With ``checkpoint_dir`` every superstep persists (rank state, partition
    metrics, lineage) and ``resume=True`` continues from the latest complete
    superstep. ``history`` (optional list) collects per-superstep stats
    (``{"step", "changed"}`` when ``tol > 0``, ``changed`` the L1 delta).
    ``input_fp`` overrides the input fingerprint baked into the checkpoint
    params hash: when the edge table derives from an Iceberg catalog table,
    pass ``sources.transcripts_fingerprint(spark, table)`` so
    resume-after-table-commit refuses from catalog metadata (the pinned
    snapshot id) with NO data scan, instead of the one-pass content hash.
    """
    # input fingerprint in the params hash: a resume against a different
    # edge table refuses instead of silently continuing from stale state.
    # A caller-supplied fp (e.g. the Iceberg snapshot id) wins — catalog
    # metadata beats a data scan at 10^12 turns.
    ranks = run_supersteps(
        spark, lambda keep: pagerank_setup(spark, edges, keep, alpha=alpha),
        max_steps=max_iter, checkpoint_dir=checkpoint_dir, resume=resume,
        params=lambda: {
            "alg": "pagerank",
            "alpha": alpha,
            "tol": tol,
            "strategy": "plain",  # fixed: part of every existing checkpoint's hash
            "input_fp": input_fp or input_fingerprint(edges, "src", "dst", "w"),
        },
        threshold=tol if tol > 0.0 else None, watch=watch, history=history,
    )
    return ranks.select("v", F.col("x").alias("rank"))


def pagerank_setup(
    spark: SparkSession,
    edges: DataFrame,
    keep: Keep,
    *,
    alpha: float = 0.85,
) -> tuple[DataFrame, Callable[[DataFrame], DataFrame] | None]:
    """Everything before the first superstep: ``(init, step)`` where
    ``init`` is the uniform DataFrame[v, x] start state and ``step(ranks)``
    is one superstep as a pure plan over DataFrame[v, x] giving
    DataFrame[v, x, _chg]. On an empty graph ``step`` is None and ``init``
    the (empty) zero-rank table.

    The tables both read go through ``keep`` (supersteps.resident)."""
    vertices = keep(
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct(),
        "vertices",
    )
    # the edge table is the big, STATIC side of every superstep's join:
    # kept hash-partitioned by the gather key, laid out ONCE
    norm_edges = keep(_normalized_edges(edges), "norm_edges", on="src")

    # ONE setup job for |V| and the dangling count: the endpoint-presence
    # flag rides a single aggregate over the vertex set, and the cached
    # anti-join side table is built only when it is nonzero (zero for any
    # symmetrized graph — the common loop input).
    outs = norm_edges.select(F.col("src").alias("v")).distinct()
    stats = (
        vertices.join(outs.withColumn("_o", F.lit(1)), "v", "left")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.when(F.col("_o").isNull(), 1)), F.lit(0)).alias("nd"),
        )
        .collect()[0]
    )
    n = stats["n"]
    if n == 0:
        return vertices.select("v", F.lit(0.0).alias("x")), None

    # dangling vertex set (no out-edges), built (and cached) ONLY when the
    # setup aggregate saw any: per-superstep dangling mass is then a cheap
    # |V|-row semi-join + sum instead of a second pass over the contributions
    dangling_vs = keep(vertices.join(outs, "v", "left_anti")) if stats["nd"] else None

    # hub sources (see linalg.spmv hub_keys): at most 4·partitions keys
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hot_keys = hub_keys(norm_edges, n_parts, key="src")

    def step(r: DataFrame) -> DataFrame:
        # only [v, x]: states saved before `_chg` existed have no other column
        r = r.select("v", "x")
        none = F.lit(None).cast("double")
        # SpMV whose aggregate also receives each vertex's previous rank (no
        # contribution of its own): every vertex gets a row, and `_xo`
        # rides the same exchange
        pre = (
            _products(norm_edges, r, hot_keys=hot_keys)
            .select(F.col("_to").alias("v"), "_contrib", none.alias("_xo"))
            .unionByName(r.select("v", none.alias("_contrib"), F.col("x").alias("_xo")))
            .groupBy("v")
            .agg(F.coalesce(F.sum("_contrib"), F.lit(0.0)).alias("x"), F.max("_xo").alias("_xo"))
        )
        x = F.lit((1.0 - alpha) / n)
        if dangling_vs is not None:
            # dangling mass enters the plan as a broadcast single-row cross
            # join — no driver round-trip, so a superstep runs exactly ONE
            # action (the state materialization)
            dang = r.join(dangling_vs, "v", "left_semi").agg(
                F.coalesce(F.sum("x"), F.lit(0.0)).alias("_dm")
            )
            pre = pre.crossJoin(F.broadcast(dang))
            x = x + F.lit(alpha) * F.col("_dm") / F.lit(float(n))
        x = x + F.lit(alpha) * F.col("x")
        return pre.select("v", x.alias("x"), F.abs(x - F.col("_xo")).alias("_chg"))

    return vertices.select("v", F.lit(1.0 / n).alias("x")), step
