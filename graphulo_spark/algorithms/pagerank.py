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

Execution shape per superstep — exactly ONE shuffle-bearing job:
- transition weights are normalized ONCE before the loop and persisted;
- dangling mass needs no extra pass: weights are row-normalized so
  Σ contrib = 1 − D_t; the scalar enters the plan as a broadcast single-row
  cross join (no driver round-trip);
- the L1 delta is the single driver action, fused with materializing the new
  state (localCheckpoint or checkpoint parquet) — lineage is truncated every
  superstep (Graphulo's temp-table ping-pong, Graphulo.java:2131-2208), which
  is what keeps superstep k's cost flat in k;
- with a checkpoint_dir, state is re-read from the superstep's parquet, so an
  interrupted+resumed run executes byte-identical superstep inputs to an
  uninterrupted one (tested bitwise).

Strategies ('plain' / 'broadcast' / 'salted' / 'auto') are linalg.spmv's;
salting hubs is the Graphulo triCountMagic2 scatter (Graphulo.java:2990-3084),
generalized. The loop itself is graphulo_spark.supersteps.run_supersteps; this
module contributes the setup and the pure superstep plan.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.checkpoint import SuperstepCheckpointer, input_fingerprint
from graphulo_spark.linalg.spmv import STRATEGIES, hub_keys, spmv
from graphulo_spark.supersteps import checkpointer, run_supersteps

EDGE_LAYOUTS = ("resident", "shuffle")


def _normalized_edges(edges: DataFrame) -> DataFrame:
    """nw(src,dst) = w / Σ_dst w(src,·) — row-stochastic transition weights."""
    out_w = edges.groupBy("src").agg(F.sum("w").alias("_ow"))
    return edges.join(out_w, "src").select("src", "dst", (F.col("w") / F.col("_ow")).alias("w"))


def _resolve_strategy(strategy: str, edge_layout: str) -> str:
    """Loop-level auto resolution (r6, VERDICT r5 #1): inside pagerank the
    edge table is the big, STATIC side of every superstep's join, so the
    engine's measured-best plan is the resident shuffled-hash-join layout —
    edges hash-partitioned on the gather key once, each superstep shuffling
    only the O(|V|) rank vector (BENCH_r05: plain/resident 6.05M e/s vs the
    old auto→broadcast 4.46M at sf0.1; and at huge |V| the old auto fell to
    'salted', not the resident layout BENCH/BASELINE.md argues survives 10^9
    vertices). A per-call spmv still resolves its own 'auto' by vector size
    (broadcast/salted) — that remains right for one-shot products where no
    layout investment can amortize; only the LOOP pins the resident plan.
    Unknown strategy or layout names raise instead of silently running some
    other plan."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown pagerank strategy {strategy!r}; expected one of {STRATEGIES}")
    if edge_layout not in EDGE_LAYOUTS:
        raise ValueError(f"unknown edge_layout {edge_layout!r}; expected one of {EDGE_LAYOUTS}")
    if strategy == "auto" and edge_layout == "resident":
        return "plain"
    return strategy


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    strategy: str = "auto",
    edge_layout: str = "resident",
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
    strategy = _resolve_strategy(strategy, edge_layout)
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
            "strategy": strategy,
            "input_fp": input_fp or input_fingerprint(edges, "src", "dst", "w"),
        },
        resume,
    )
    init, step = pagerank_setup(
        spark, edges, alpha=alpha, strategy=strategy, edge_layout=edge_layout,
        ckpt=ckpt, resume=resume,
    )
    if step is None:  # empty graph
        return init.withColumnRenamed("x", "rank")

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

    ranks = run_supersteps(
        init, step, max_steps=max_iter, ckpt=ckpt, resume=resume,
        converged=converged, watch=watch, history=history,
    )
    return ranks.withColumnRenamed("x", "rank")


def pagerank_setup(
    spark: SparkSession,
    edges: DataFrame,
    *,
    alpha: float = 0.85,
    strategy: str = "plain",
    edge_layout: str = "resident",
    ckpt: SuperstepCheckpointer | None = None,
    resume: bool = False,
) -> tuple[DataFrame, Callable[[DataFrame], DataFrame] | None]:
    """Everything before the first superstep: ``(init, step)`` where
    ``init`` is the uniform DataFrame[v, x] start state and ``step(ranks)``
    is one superstep as a pure plan. ``strategy`` is already resolved (see
    ``_resolve_strategy``). On an empty graph ``step`` is None and ``init``
    the (empty) zero-rank table."""
    vertices = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    # edge_layout='resident' (default): under the 'plain' (shuffled-hash join)
    # strategy the edge table is the big, STATIC side of every superstep's
    # join — hash-partition it by the gather key ONCE (same partition count
    # the join will require) and cache. EnsureRequirements then reuses the
    # layout and each superstep shuffles only the O(|V|) rank vector +
    # aggregate output, never the O(|E|) edges. The Spark analog of Graphulo
    # keeping A resident in tablet order across all TableMult scans; on a real
    # cluster this is strictly less network per superstep. (broadcast never
    # shuffles the edges; salted joins on (v, salt) — neither benefits, so
    # only 'plain' pays the setup shuffle.)
    # edge_layout='shuffle': re-shuffle the edges each superstep (the r1
    # plan). More CPU-per-byte (serialization), less raw memory-bandwidth
    # pressure — kept selectable because shared-bus boxes (like this sandbox)
    # bottleneck the two layouts differently; see BENCH/BASELINE.md §3.
    norm_edges = _normalized_edges(edges)
    if ckpt:
        vertices = ckpt.side_input("vertices", vertices, resume=resume)
        norm_edges = ckpt.side_input("norm_edges", norm_edges, resume=resume)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if strategy == "plain" and edge_layout == "resident":
        norm_edges = norm_edges.repartition(n_parts, "src")
    vertices, norm_edges = vertices.cache(), norm_edges.cache()

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

    # hub-vertex set, computed ONCE from the static degree distribution:
    # sources owning more than ~1/(4·partitions) of all edges would make one
    # shuffle partition a straggler; their edges go through a broadcast of
    # the hub slice of the rank vector instead (see linalg.spmv hot_keys —
    # the Graphulo power-law-split idea, Graphulo.java:2701-2739, applied to
    # the join). Bounded: at most 4·partitions keys can exceed the threshold.
    hot_keys: list[int] = []
    if strategy in ("plain", "auto"):
        hot_keys = hub_keys(norm_edges, n_parts, key="src")

    def step(r: DataFrame) -> DataFrame:
        contrib = spmv(
            norm_edges,
            r,
            strategy=strategy,
            vec_count=n,
            drop_zeros=False,
            hot_keys=hot_keys or None,
        )
        pre = contrib
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
