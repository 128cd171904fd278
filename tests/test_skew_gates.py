"""Planted-mega-hub stress proof (VERDICT r5 'Next round' #2).

A deterministic power-law-extreme graph — one vertex owning ~30% of all
edges — must trip every skew gate the engine relies on at scale. These
asserts are WORK-PROXY checks (hub detection, plan shape, wedge counts):
deterministic on any box, they FAIL if a gate regresses, without the
wall-clock flakiness a timing assert would have on this ±25%-ambient VM
(BENCH/BASELINE.md §3). Reference precedent: Graphulo's d(d-1)/2
power-law split weighting (Graphulo.java:2701-2739) and triCountMagic2's
skew scatter (Graphulo.java:2990-3084).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

N_BACKGROUND = 4_000  # background vertices
HUB = 0  # the planted mega-hub id
N_PARTS = 32


@pytest.fixture(scope="module")
def hub_graph(spark):
    """~13.3k edges, ~30% of them incident to HUB; background is a sparse
    deterministic ring+chord graph. Built from spark.range (no driver loop)."""
    bg = spark.range(1, N_BACKGROUND).select(
        F.col("id").alias("src"),
        (F.pmod(F.col("id") * 7 + 3, F.lit(N_BACKGROUND - 1)) + 1).alias("dst"),
        F.lit(1.0).alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    bg2 = spark.range(1, N_BACKGROUND).select(
        F.col("id").alias("src"),
        (F.pmod(F.col("id") * 131 + 17, F.lit(N_BACKGROUND - 1)) + 1).alias("dst"),
        F.lit(1.0).alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    hub_edges = spark.range(1, int(N_BACKGROUND * 0.85)).select(
        F.lit(HUB).cast("long").alias("src"),
        F.col("id").alias("dst"),
        F.lit(1.0).alias("w"),
    )
    return bg.unionByName(bg2).unionByName(hub_edges).localCheckpoint()


def test_hub_detection_engages(spark, hub_graph):
    """The shared hub gate must flag exactly the planted hub (its edge share
    is far above 1/(4·parts)), and must stay silent on the background graph
    alone — the gate neither misses a mega-hub nor cries wolf."""
    from graphulo_spark.linalg.spmv import hub_keys

    hubs = hub_keys(hub_graph, N_PARTS, key="src")
    assert HUB in hubs and len(hubs) <= 4 * N_PARTS
    background_only = hub_graph.filter(F.col("src") != HUB)
    assert hub_keys(background_only, N_PARTS, key="src") == []


def test_hot_key_routing_splits_the_plan(spark, hub_graph):
    """With hot keys, spmv must route hub edges through a broadcast of the
    hub slice of the vector (BroadcastHashJoin branch) while the shuffle
    branch excludes them (NOT isin filter) — no shuffle partition ever owns
    the hub's edge list. Without hot keys, plain spmv must not broadcast."""
    from graphulo_spark.linalg.spmv import spmv

    vec = hub_graph.select(F.col("src").alias("v")).distinct().select(
        "v", F.lit(1.0).alias("x")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        routed = spmv(hub_graph, vec, hot_keys=[HUB])
        p = routed._sc._jvm.PythonSQLUtils.explainString(
            routed._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in p, "hub slice is not broadcast-routed"
        assert "ShuffledHashJoin" in p, "non-hub edges lost the shuffle join"
        # the shuffle branch must exclude hub srcs (single key compiles to
        # NOT (src = k); multiple to NOT src INSET(...))
        assert "NOT (src" in p or "NOT src" in p, (
            "shuffle branch does not exclude the hub keys"
        )
        plain = spmv(hub_graph, vec)
        p2 = plain._sc._jvm.PythonSQLUtils.explainString(
            plain._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" not in p2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_hot_key_routing_is_exact(spark, hub_graph):
    """Routing hub edges through the broadcast branch must not change the
    SpMV result: hot_keys=[HUB] equals the un-routed plain product."""
    from graphulo_spark.linalg.spmv import spmv

    vec = hub_graph.select(F.col("src").alias("v")).distinct().select(
        "v", (F.pmod(F.col("v") * 37, F.lit(101)) / 100.0).alias("x")
    )
    a = {r["v"]: round(r["x"], 9) for r in spmv(hub_graph, vec).collect()}
    b = {
        r["v"]: round(r["x"], 9)
        for r in spmv(hub_graph, vec, hot_keys=[HUB]).collect()
    }
    assert a == b


def test_pagerank_routes_planted_hub_and_matches_oracle(spark, hub_graph, monkeypatch):
    """Hub routing is pagerank's skew defense: on the planted-hub graph its
    setup must flag exactly the hub for the broadcast branch, and 10 fixed
    supersteps through that split plan must still match the numpy oracle."""
    import importlib

    from conftest import numpy_pagerank

    # the package re-exports the pagerank function under the module's name
    pr = importlib.import_module("graphulo_spark.algorithms.pagerank")

    real_hub_keys, seen = pr.hub_keys, []

    def recording_hub_keys(*args, **kwargs):
        seen.append(real_hub_keys(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(pr, "hub_keys", recording_hub_keys)
    got = {r["v"]: r["rank"] for r in pr.pagerank(spark, hub_graph, tol=0.0, max_iter=10).collect()}
    assert seen == [[HUB]]

    el = [(r["src"], r["dst"], r["w"]) for r in hub_graph.collect()]
    want = numpy_pagerank(el, alpha=0.85, tol=0.0, max_iter=10)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v


def test_degree_orientation_bounds_hub_wedges(spark, hub_graph):
    """Triangle/edge-support wedge generation must stay degree-oriented:
    under id order the low-id mega-hub fans out O(d²) wedges (~1.4M here);
    the degree orientation makes hubs receive instead, collapsing the wedge
    count to the background graph's scale. A regression to id order blows
    the bound by >10× on this graph and fails loudly."""
    from graphulo_spark.algorithms.triangles import _oriented
    from graphulo_spark.linalg.edges import canonicalize

    def wedge_upper_bound(e):
        return (
            e.groupBy("src")
            .agg(F.count("*").alias("d"))
            .agg(F.coalesce(F.sum(F.col("d") * F.col("d")), F.lit(0)))
            .collect()[0][0]
        )

    w_id = wedge_upper_bound(canonicalize(hub_graph))  # id order: src < dst
    w_deg = wedge_upper_bound(_oriented(hub_graph))
    assert w_deg * 10 < w_id, (w_deg, w_id)
    # absolute sanity: degree-oriented wedge work stays within a small
    # multiple of |E| on this graph (no quadratic hub term survives)
    m = hub_graph.count()
    assert w_deg < 20 * m, (w_deg, m)


def test_label_prop_hub_gate_trips(spark, hub_graph):
    """LP's vote-shuffle gate must reject the single-shuffle plan on the
    planted-hub graph (the hub's gathered votes would sit in one task)."""
    from graphulo_spark.linalg.edges import symmetrize
    from graphulo_spark.linalg.spmv import hub_keys

    sym = symmetrize(hub_graph, combine="sum")
    assert hub_keys(sym, N_PARTS, key="src")
