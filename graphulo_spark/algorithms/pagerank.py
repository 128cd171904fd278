"""PageRank as a superstep SpMV loop with per-superstep checkpoint/resume.

Each superstep is Graphulo TableMult with a 1-column vector table
(SURVEY.md §3.1) restated as join + groupBy-sum; convergence is the client
nnz/delta fixpoint loop of kTrussAdj/NMF (Graphulo.java:2198, 3776-3788)
restated as an L1-delta test.

Semantics (classic power iteration / NetworkX definition):
    r_0(v)    = 1/n
    r_{t+1}(v) = (1-α)/n + α·( Σ_{u→v} w(u,v)/W_out(u) · r_t(u) + D_t/n )
where D_t is the rank mass on dangling vertices (no out-edges) and W_out the
weighted out-degree. Stops when Σ_v |r_{t+1}(v) − r_t(v)| < tol.

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
- materializing the new state (localCheckpoint or checkpoint parquet)
  truncates lineage every superstep (Graphulo's temp-table ping-pong,
  Graphulo.java:2131-2208), which is what keeps superstep k's cost flat in
  k. With ``tol <= 0`` (fixed iterations) it is the superstep's only job;
  with ``tol > 0`` the L1-delta test is a second job after it: a full outer
  join of the new and old ranks, summed and collected to the driver;
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

from graphulo_spark.checkpoint import SuperstepCheckpointer, input_fingerprint
from graphulo_spark.linalg.spmv import hub_keys, spmv
from graphulo_spark.supersteps import checkpointer, run_supersteps


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
    (``{"step", "delta"}`` when ``tol > 0``).
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
    ckpt = checkpointer(
        spark,
        checkpoint_dir,
        lambda: {
            "alg": "pagerank",
            "alpha": alpha,
            "tol": tol,
            "strategy": "plain",  # fixed: part of every existing checkpoint's hash
            "input_fp": input_fp or input_fingerprint(edges, "src", "dst", "w"),
        },
        resume,
    )
    converged = None
    if tol > 0.0:
        # fixed-iteration mode (tol<=0) skips the convergence job entirely —
        # one fewer action + vertex-join per superstep
        def converged(new: DataFrame, old: DataFrame) -> tuple[bool, dict[str, Any]]:
            delta = (
                new.withColumnRenamed("x", "_xn")
                .join(old.withColumnRenamed("x", "_xo"), "v", "full")
                .agg(F.sum(F.abs(F.coalesce("_xn", F.lit(0.0)) - F.coalesce("_xo", F.lit(0.0)))))
                .collect()[0][0]
            )
            return delta < tol, {"delta": delta}

    # setup caches live for the loop only: every superstep's state is
    # materialized, so the returned ranks never reference them
    caches: list[DataFrame] = []
    try:
        init, step = pagerank_setup(
            spark, edges, alpha=alpha, ckpt=ckpt, resume=resume, _cache_registry=caches
        )
        if step is None:  # empty graph
            return init.withColumnRenamed("x", "rank")
        ranks = run_supersteps(
            init, step, max_steps=max_iter, ckpt=ckpt, resume=resume,
            converged=converged, watch=watch, history=history,
        )
        return ranks.withColumnRenamed("x", "rank")
    finally:
        for c in caches:
            c.unpersist()


def pagerank_setup(
    spark: SparkSession,
    edges: DataFrame,
    *,
    alpha: float = 0.85,
    ckpt: SuperstepCheckpointer | None = None,
    resume: bool = False,
    _cache_registry: list | None = None,
) -> tuple[DataFrame, Callable[[DataFrame], DataFrame] | None]:
    """Everything before the first superstep: ``(init, step)`` where
    ``init`` is the uniform DataFrame[v, x] start state and ``step(ranks)``
    is one superstep as a pure plan. On an empty graph ``step`` is None and
    ``init`` the (empty) zero-rank table.

    Both reference cached setup tables; a caller that is done with them can
    pass ``_cache_registry`` (a list) to receive the handles and unpersist
    them (the triangle_closers/jaccard contract)."""
    vertices = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    norm_edges = _normalized_edges(edges)
    if ckpt:
        vertices = ckpt.side_input("vertices", vertices, resume=resume)
        norm_edges = ckpt.side_input("norm_edges", norm_edges, resume=resume)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    vertices = vertices.cache()
    # the edge table is the big, STATIC side of every superstep's join:
    # hash-partition it by the gather key ONCE (the partition count the join
    # requires) and cache, so EnsureRequirements reuses the layout
    norm_edges = norm_edges.repartition(n_parts, "src").cache()
    if _cache_registry is not None:
        _cache_registry.extend([vertices, norm_edges])

    # ONE setup job for |V|, dangling count, and no-in-edge count (r6): the
    # former three separate actions (a count plus two cached anti-join
    # counts) each paid their own scheduling/AQE round — here the two
    # endpoint-presence flags ride a single aggregate over the vertex set,
    # and the cached anti-join side tables are built only for the nonzero
    # cases (zero for any symmetrized graph — the common loop input).
    outs = norm_edges.select(F.col("src").alias("v")).distinct()
    ins = norm_edges.select(F.col("dst").alias("v")).distinct()
    stats = (
        vertices.join(outs.withColumn("_o", F.lit(1)), "v", "left")
        .join(ins.withColumn("_i", F.lit(1)), "v", "left")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.when(F.col("_o").isNull(), 1)), F.lit(0)).alias("nd"),
            F.coalesce(F.sum(F.when(F.col("_i").isNull(), 1)), F.lit(0)).alias("nni"),
        )
        .collect()[0]
    )
    n = stats["n"]
    if n == 0:
        return vertices.select("v", F.lit(0.0).alias("x")), None

    # dangling vertex set (no out-edges) and no-in-edge vertex set, built
    # (and cached) ONLY when the setup aggregate saw any: per-superstep
    # dangling mass is then a cheap |V|-row semi-join + sum instead of a
    # second pass over the contributions, and new ranks are contrib ∪ noin —
    # a union instead of a per-superstep |V|-vs-|V| join against vertices
    n_dangling = int(stats["nd"])
    n_noin = int(stats["nni"])
    dangling_vs = vertices.join(outs, "v", "left_anti").cache() if n_dangling else None
    noin_vs = vertices.join(ins, "v", "left_anti").cache() if n_noin else None
    if _cache_registry is not None:
        _cache_registry.extend(c for c in (dangling_vs, noin_vs) if c is not None)

    # hub sources (see linalg.spmv hub_keys): at most 4·partitions keys
    hot_keys = hub_keys(norm_edges, n_parts, key="src")

    def step(r: DataFrame) -> DataFrame:
        pre = spmv(norm_edges, r, drop_zeros=False, hot_keys=hot_keys)
        if n_noin > 0:
            pre = pre.unionByName(noin_vs.select("v", F.lit(0.0).alias("x")))
        if n_dangling == 0:
            return pre.select(
                "v", (F.lit((1.0 - alpha) / n) + F.lit(alpha) * F.col("x")).alias("x")
            )
        # dangling mass enters the plan as a broadcast single-row cross
        # join — no driver round-trip, so fixed-iteration mode runs exactly
        # ONE action per superstep (the state materialization)
        dang = r.join(dangling_vs, "v", "left_semi").agg(
            F.coalesce(F.sum("x"), F.lit(0.0)).alias("_dm")
        )
        return pre.crossJoin(F.broadcast(dang)).select(
            "v",
            (
                F.lit((1.0 - alpha) / n)
                + F.lit(alpha) * F.col("_dm") / F.lit(float(n))
                + F.lit(alpha) * F.col("x")
            ).alias("x"),
        )

    return vertices.select("v", F.lit(1.0 / n).alias("x")), step
