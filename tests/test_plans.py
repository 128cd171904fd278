"""Physical-plan regression tests: the optimizations we rely on at 100 TB must
be visible in .explain() — pushdown to the parquet scan, column pruning,
intended join strategies, windowed top-k group-limits."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from graphulo_spark.linalg import spmv, top_k_per_row

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter((F.col("l_shipdate") < "1995-06-01") & (F.col("l_discount") >= 0.02))
        .select("l_orderkey", "l_extendedprice")
    )
    p = _plan(df)
    assert "PushedFilters" in p
    assert "LessThan(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount,0.02)" in p


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_partkey")
    p = _plan(df)
    sch = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in sch and "l_partkey" in sch
    assert "l_extendedprice" not in sch  # untouched columns never leave the scan


def test_topk_uses_window_group_limit(spark):
    e = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    p = _plan(top_k_per_row(e, 3))
    assert "WindowGroupLimit" in p  # rank-limit pushdown, not a full sort


def test_spmv_plain_uses_shuffled_hash_join(spark):
    e = spark.read.parquet(f"{SF}/lineitem.parquet").selectExpr(
        "l_orderkey AS src", "l_partkey AS dst", "CAST(1.0 AS DOUBLE) AS w"
    )
    v = spark.range(100).selectExpr("id AS v", "CAST(1.0 AS DOUBLE) AS x")
    p = _plan(spmv(e, v))
    assert "ShuffledHashJoin" in p  # no |E|-row sort feeding the hash agg


def test_spmv_auto_unknown_size_is_shuffle_safe(spark):
    """spmv never broadcasts the vector, not even a 10-row one: the plain
    SHJ is safe at any |V|, and spmv has no way to know the vector is small
    (VERDICT r01 'What's wrong' #7)."""
    e = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, w double")
    v = spark.range(10).selectExpr("id AS v", "CAST(1.0 AS DOUBLE) AS x")
    p = _plan(spmv(e, v))
    assert "ShuffledHashJoin" in p and "BroadcastHashJoin" not in p


def test_generator_offset_has_no_global_single_partition_window(spark):
    """The transcript generator's cumulative-offset must not funnel all
    conversation rows through one task: the only single-partition exchange
    allowed is over the |partitions|-row totals table."""
    from graphulo_spark.transcripts import generate_transcripts

    p = _plan(generate_transcripts(spark, 1000, num_partitions=8))
    # the per-conversation window is partitioned by _pid, so the plan must
    # contain a hashpartitioning exchange on _pid for the big side
    assert "hashpartitioning(_pid" in p


def test_spmv_plain_reuses_prepartitioned_edges(spark):
    """Edges pre-partitioned by the gather key and cached must feed the SHJ
    with NO further exchange — supersteps shuffle only the O(|V|) vector and
    the aggregate output, never the O(|E|) edge table (the pagerank/cc/lp
    static-side layout contract)."""
    e = spark.range(100_000).selectExpr(
        "id % 997 AS src", "(id * 7) % 997 AS dst", "CAST(1.0 AS DOUBLE) AS w"
    )
    ep = e.repartition(8, "src").cache()
    ep.count()
    try:
        v = spark.range(997).selectExpr("id AS v", "CAST(1.0 AS DOUBLE) AS x")
        p = _plan(spmv(ep, v))
        assert "ShuffledHashJoin" in p
        # the only src-exchange allowed is the one-time REPARTITION inside the
        # cached relation; the join itself must not ENSURE_REQUIREMENTS on src
        offending = [
            ln for ln in p.splitlines()
            if "hashpartitioning(src" in ln and "ENSURE_REQUIREMENTS" in ln
        ]
        assert offending == [], offending
    finally:
        ep.unpersist()


def test_pagerank_superstep_plan_keeps_edges_resident(spark):
    """The real pagerank superstep (its own setup and step, not a hand-copied
    kernel) must plan as a ShuffledHashJoin whose O(|E|) edge side is the
    cached src-partitioned layout: no ENSURE_REQUIREMENTS exchange on src
    outside that cached relation."""
    from graphulo_spark.algorithms.pagerank import pagerank_setup
    from graphulo_spark.materialize import materialize

    e = spark.range(20_000).selectExpr(
        "id % 997 AS src", "(id * 7 + 1) % 997 AS dst", "CAST(1.0 AS DOUBLE) AS w"
    )
    init, step = pagerank_setup(spark, e)
    try:
        p = _plan(step(materialize(init)))
        assert "ShuffledHashJoin" in p
        offending = [
            ln for ln in _outside_cached_relations(p)
            if "hashpartitioning(src" in ln and "ENSURE_REQUIREMENTS" in ln
        ]
        assert offending == [], p
    finally:
        spark.catalog.clearCache()


def _outside_cached_relations(plan: str) -> list[str]:
    """Lines of a formatted plan (tree and node details) minus every node
    under an InMemoryRelation: the already-materialized plan of a cached
    table, which the query re-reads instead of re-running."""
    import re

    body = plan.split("== Physical Plan ==", 1)[1].strip("\n")
    tree, _, details = body.partition("\n\n")
    cached, keep, cut = set(), [], None
    for ln in tree.splitlines():
        depth = len(ln) - len(ln.lstrip(" :+-*"))
        node = re.search(r"\((\d+)\)", ln)
        if cut is not None and depth > cut:
            if node:
                cached.add(node.group(1))
            continue
        cut = depth if "InMemoryRelation" in ln else None
        keep.append(ln)
    for section in re.split(r"\n(?=\(\d+\) )", details.strip("\n")):
        node = re.match(r"\((\d+)\) ", section)
        if node and node.group(1) not in cached:
            keep.extend(section.splitlines())
    return keep


def test_triangle_closer_broadcast_filters_wedges_in_stage(spark):
    """Under the broadcast threshold, the closer join must be a
    BroadcastHashJoin: the O(Σd²) wedge table is filtered to triangles inside
    the wedge-join stage instead of being shuffled on (a, c) — the 4x win
    measured at sf0.1 (49M wedges vs 1.2M closers)."""
    from graphulo_spark.algorithms.triangles import triangle_closers

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (3, 4, 1.0)], "src long, dst long, w double"
    )
    p = _plan(triangle_closers(e, orientation="id", closer_strategy="broadcast"))
    assert "BroadcastHashJoin" in p
    shuffled = _plan(triangle_closers(e, orientation="id", closer_strategy="shuffle"))
    assert "BroadcastHashJoin" not in shuffled  # huge-|E| path never collects edges


def test_materialize_keeps_stats_flat(spark):
    """Regression: Dataset.localCheckpoint carries the origin plan's ESTIMATED
    sizeInBytes into the LogicalRDD; iterated self-joins then compound the
    BigInt ~3-5x in bit length per generation, and by ~20 rounds the driver
    spends minutes per job in BigInteger.multiply (measured: SCC rounds
    1 s -> 25 s -> 120 s on identical 33-row inputs). materialize() rebuilds
    over the checkpointed RDD with fresh stats — bit length must stay flat."""
    from pyspark.sql import functions as F

    from graphulo_spark.materialize import materialize

    def size_bits(d):
        return int(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()).bit_length()

    base = spark.createDataFrame([(i, i + 1) for i in range(10)], "v long, lbl long")
    # materialize is an identity on the data itself
    assert sorted(map(tuple, materialize(base).collect())) == sorted(map(tuple, base.collect()))

    def jump_rounds(df, n, truncate):
        for _ in range(n):
            lut = df.select(F.col("v").alias("_pv"), F.col("lbl").alias("_pl"))
            df = truncate(
                df.join(lut, df["lbl"] == lut["_pv"], "left")
                .select("v", F.coalesce("_pl", "lbl").alias("lbl"))
            )
            assert size_bits(df) <= 64 or truncate is not materialize, (
                "materialize no longer resets carried statistics"
            )
        return sorted(map(tuple, df.collect()))

    # same data out as the plain-localCheckpoint loop (few rounds: pre-cliff)
    got = jump_rounds(materialize(base), 4, materialize)
    want = jump_rounds(base.localCheckpoint(), 4, lambda d: d.localCheckpoint())
    assert got == want


def test_jaccard_degree_broadcast_is_gated(spark):
    """The degree table is O(|V|) rows: it must be broadcast only when the
    caller proves it small via vertex_count — never unconditionally. With
    auto-broadcast disabled, any BroadcastHashJoin in the plan can come only
    from an explicit hint, so the unhinted path must have none."""
    from graphulo_spark.algorithms import jaccard

    e = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0)], "src long, dst long, w double")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        unhinted = _plan(jaccard(e))  # unknown |V| -> no broadcast hint
        # the wedge self-join + two degree joins: none may broadcast unhinted
        assert "BroadcastHashJoin" not in unhinted
        hinted = _plan(jaccard(e, vertex_count=3))  # proven small -> hinted
        assert "BroadcastHashJoin" in hinted
        big = _plan(jaccard(e, vertex_count=10_000_000))  # above threshold
        assert "BroadcastHashJoin" not in big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_materialize_preserves_partitioning_and_elides_superstep_exchange(spark):
    """Round-4 shuffle-bytes fix: materialize() must carry the state's
    hash-partitioning across the superstep boundary (even under AQE, whose
    AdaptiveSparkPlanExec reports UnknownPartitioning), and with the
    partition count pinned the next superstep's SHJ must need NO exchange on
    the rank-vector side — the vector shuffle was the dominant avoidable
    per-superstep byte mover in the resident layout."""
    from graphulo_spark.linalg.spmv import spmv
    from graphulo_spark.materialize import materialize

    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        e = spark.createDataFrame(
            [(i % 7, (i * 3) % 7, 1.0) for i in range(40)], "src long, dst long, w double"
        ).repartition(n_parts, "src").cache()
        e.count()
        vec = materialize(
            e.groupBy(F.col("src").alias("v")).agg(F.sum("w").alias("x"))
        )
        part = vec._jdf.queryExecution().analyzed().outputPartitioning().toString()
        assert "hashpartitioning(v" in part, part

        # the partitioning must be visible on the RDD scan itself …
        p = _plan(spmv(e, vec, drop_zeros=False))
        scan_args = [
            l for l in p.splitlines()
            if "localCheckpoint" in l and "hashpartitioning(v#" in l
        ]
        assert scan_args, p
        # … and the only exchange EnsureRequirements inserts is the agg
        # partials on _to. The cached edge plan's REPARTITION_BY_NUM
        # exchanges appear in explain but are already materialized; a
        # re-inserted vector-side shuffle would be ENSURE_REQUIREMENTS on v.
        ensure = [
            l for l in p.splitlines()
            if "ENSURE_REQUIREMENTS" in l
        ]
        assert len(ensure) == 1 and "hashpartitioning(_to" in ensure[0], p
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)


def test_ivf_join_assignment_plan_shape(spark):
    """The join-path IVF assignment must plan as a BroadcastNestedLoopJoin
    against the (tiny) centroid table — no shuffle to score cells — with the
    per-vector argmax as the ONLY requirement-inserted exchange (map-side
    partial aggregation collapses the k scored rows per vector first)."""
    from graphulo_spark.pipeline.similarity import _ivf_assign_join

    e = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 2.0]) for i in range(40)], "vec_id long, v array<double>"
    )
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    p = _plan(_ivf_assign_join(e, cents))
    assert "BroadcastNestedLoopJoin" in p
    ensure = [l for l in p.splitlines() if "ENSURE_REQUIREMENTS" in l]
    assert len(ensure) == 1 and "hashpartitioning(vec_id" in ensure[0], p
    assert "partial_max_by" in p  # map-side combine before the exchange
