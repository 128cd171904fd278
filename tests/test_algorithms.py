"""PageRank / CC / LP / BFS vs pure-python oracles on random power-law-ish graphs."""

from __future__ import annotations

import random

import pytest

from conftest import (
    GRAPHULO5_EDGES,
    numpy_pagerank,
    python_bfs,
    python_cc,
    python_label_prop,
    python_triangles,
)
from graphulo_spark.algorithms import (
    adj_bfs,
    connected_components,
    jaccard,
    ktruss,
    label_propagation,
    nmf,
    pagerank,
    scc,
    triangle_count,
)
from graphulo_spark.algorithms.ktruss import ktruss_edge
from graphulo_spark.linalg.incidence import edge_bfs, line_graph, to_incidence


def _random_graph(n=60, m=180, seed=7):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        # skewed: quadratic bias toward low ids → hub vertices
        s = int(n * rng.random() ** 2)
        d = rng.randrange(n)
        if s != d:
            edges.add((s, d))
    return [(s, d, float(rng.randint(1, 3))) for s, d in sorted(edges)]


@pytest.fixture(scope="module")
def rgraph(spark):
    el = _random_graph()
    return el, spark.createDataFrame(el, "src long, dst long, w double")


def _hub_graph(n=60, seed=11):
    """A star on vertex 0 (every vertex points to it and it points back to
    every vertex) over a sparse random background: one key hot on both
    sides of the superstep join."""
    rng = random.Random(seed)
    edges = {(0, v) for v in range(1, n)} | {(v, 0) for v in range(1, n)}
    while len(edges) < 3 * n:
        s, d = rng.randrange(1, n), rng.randrange(1, n)
        if s != d:
            edges.add((s, d))
    return [(s, d, float(rng.randint(1, 3))) for s, d in sorted(edges)]


# The case ids name the input shape each case covers, after the join plan
# once chosen for it: "broadcast" is the small skewed graph whose rank
# vector fits a broadcast, "salted" a graph with one hot hub key. The one
# resident shuffle-join plan must match the oracle exactly on both.
@pytest.mark.parametrize("shape", ["broadcast", "salted"])
def test_pagerank_fixed_steps_match_oracle(spark, rgraph, shape):
    # fixed-superstep parity with the numpy mirror: pins the exact update rule
    if shape == "broadcast":
        el, df = rgraph
    else:
        el = _hub_graph()
        df = spark.createDataFrame(el, "src long, dst long, w double")
    want = numpy_pagerank(el, alpha=0.85, tol=0.0, max_iter=15)
    got = {r["v"]: r["rank"] for r in pagerank(spark, df, tol=0.0, max_iter=15).collect()}
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v


def test_pagerank_converged_allclose_1e6(spark):
    # north-rule tolerance: converged scores allclose 1e-6 vs oracle
    el = _random_graph(n=25, m=70, seed=21)
    df = spark.createDataFrame(el, "src long, dst long, w double")
    want = numpy_pagerank(el, alpha=0.85, tol=1e-7, max_iter=200)
    hist = []
    got = {r["v"]: r["rank"] for r in pagerank(spark, df, tol=1e-7, max_iter=200, history=hist).collect()}
    assert hist[-1]["changed"] <= 1e-7  # actually converged, not max_iter'd
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, v


def test_pagerank_dangling_mass_sums_to_one(spark):
    # v3 is dangling: ranks must still sum to 1
    import pyspark.sql.functions as F

    s = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, w double")
    ranks = pagerank(spark, s, tol=0.0, max_iter=10)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def test_cc_exact_oracle(spark, rgraph):
    el, df = rgraph
    want = python_cc(el)
    got = {r["v"]: r["component"] for r in connected_components(spark, df).collect()}
    assert got == want


def test_cc_two_components(spark):
    el = [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0)]
    df = spark.createDataFrame(el, "src long, dst long, w double")
    got = {r["v"]: r["component"] for r in connected_components(spark, df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_fractional_ids_take_diff_join_witness(spark):
    """Fractional numeric vertex ids converge to the true minimum: ids 0.25
    apart all round to the same integer, so any witness that rounded labels
    (as a decimal label-mass sum once did) would stop the loop before the
    fixpoint. The changed-row witness compares labels exactly."""
    # path 1.25 - 1.5 - 1.75 - ... : every label rounds to 1 or 2
    ids = [1.0 + 0.25 * i for i in range(12)]
    el = [(ids[i], ids[i + 1], 1.0) for i in range(len(ids) - 1)]
    df = spark.createDataFrame(el, "src double, dst double, w double")
    got = {r["v"]: r["component"] for r in connected_components(spark, df).collect()}
    assert got == {v: 1.0 for v in ids}


def test_label_prop_exact_oracle(spark, rgraph):
    el, df = rgraph
    want = python_label_prop(el, iters=3)
    got = {r["v"]: r["label"] for r in label_propagation(spark, df, iters=3).collect()}
    assert got == want


def test_label_prop_hub_takes_two_exchange_fallback(spark):
    """r6 skew gate: a hub whose degree exceeds the hot threshold
    (max(1000, |E|/(4·parts)), the shared linalg.spmv.hub_keys gate) must
    push LP off the single-shuffle vote plan onto the (dst,label)-keyed
    two-exchange fallback — and the result must still match the python
    oracle (same winner rule on either plan)."""
    from graphulo_spark.linalg.edges import symmetrize
    from graphulo_spark.linalg.spmv import hub_keys

    el = [(i, 0, 1.0) for i in range(1, 1202)] + [(1, 2, 5.0), (3, 4, 5.0)]
    df = spark.createDataFrame(el, "src long, dst long, w double")
    # the hub (degree 1201 after symmetrize) must trip the gate...
    assert hub_keys(symmetrize(df, combine="sum"), 32) == [0]
    # ...which a hub-free graph of the same size does not
    flat = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, len(el) + 1)], "src long, dst long, w double"
    )
    assert hub_keys(symmetrize(flat, combine="sum"), 32) == []
    # the superstep plan itself takes the fallback: no explicit dst repartition
    from graphulo_spark.algorithms.label_prop import label_prop_setup
    from graphulo_spark.materialize import materialize
    from graphulo_spark.supersteps import resident

    def dst_repartitions(g):
        with resident(spark) as keep:
            init, step = label_prop_setup(spark, g, keep)
            plan = step(materialize(init))._jdf.queryExecution().executedPlan().toString()
        return [ln for ln in plan.splitlines() if "hashpartitioning(dst" in ln and "REPARTITION_BY_NUM" in ln]

    assert dst_repartitions(df) == []
    assert dst_repartitions(flat) != []
    want = python_label_prop(el, iters=2)
    got = {r["v"]: r["label"] for r in label_propagation(spark, df, iters=2).collect()}
    assert got == want


def test_label_prop_deterministic(spark, rgraph):
    _, df = rgraph
    a = {r["v"]: r["label"] for r in label_propagation(spark, df, iters=4).collect()}
    b = {r["v"]: r["label"] for r in label_propagation(spark, df, iters=4).collect()}
    assert a == b


def test_label_prop_string_ids(spark, rgraph):
    """String vertex ids take the same one-aggregate min_by argmax as numeric
    ids (no sort window in the superstep plan) — same assignments as the
    numeric path under an order-isomorphic id mapping."""
    import contextlib
    import io

    from graphulo_spark.algorithms.label_prop import label_prop_setup
    from graphulo_spark.materialize import materialize
    from graphulo_spark.supersteps import resident

    el, df = rgraph
    sdf = spark.createDataFrame(
        [(f"v{s:03d}", f"v{d:03d}", w) for s, d, w in el],
        "src string, dst string, w double",
    )
    got = {r["v"]: r["label"] for r in label_propagation(spark, sdf, iters=3).collect()}
    base = {r["v"]: r["label"] for r in label_propagation(spark, df, iters=3).collect()}
    assert got == {f"v{v:03d}": f"v{l:03d}" for v, l in base.items()}

    buf = io.StringIO()
    with resident(spark) as keep, contextlib.redirect_stdout(buf):
        init, step = label_prop_setup(spark, sdf, keep)
        step(materialize(init)).explain("formatted")
    plan = buf.getvalue()
    assert "min_by" in plan and "Window" not in plan, plan


def test_triangles_random_oracle(spark, rgraph):
    el, df = rgraph
    assert triangle_count(df) == python_triangles(el)


def test_triangle_closers_intersect_equals_wedge_path(spark, rgraph, g5, monkeypatch):
    """r6 opt pin: the broadcast path emits triangles via per-edge
    N⁺(a) ∩ N⁺(b) adjacency intersection (wedges never materialize); it must
    produce the exact (a, b, c) triple SET of the shuffled wedge-join path
    (forced here by a zero oriented-edge threshold), and the scalar counts
    must agree too."""
    from graphulo_spark.algorithms import triangles

    def closers_and_count(df):
        got = {(r["a"], r["b"], r["c"]) for r in triangles.triangle_closers(df).collect()}
        return got, triangles.triangle_count(df)

    _, rdf = rgraph
    for df in (g5, rdf):
        fast, fast_n = closers_and_count(df)
        with monkeypatch.context() as m:
            m.setattr(triangles, "DEFAULT_CLOSER_BROADCAST_THRESHOLD", 0)
            slow, slow_n = closers_and_count(df)
        assert fast == slow and len(fast) == fast_n == slow_n


def test_bfs(spark, g5):
    got = {r["v"]: r["dist"] for r in adj_bfs(spark, g5, [5], k=2).collect()}
    # undirected: 5 -> 2 -> {1,3}; dist(5)=0, dist(2)=1, dist(1)=dist(3)=2
    assert got == {5: 0, 2: 1, 1: 2, 3: 2}


def test_bfs_degree_filter(spark, g5):
    # refuse to expand through vertices with degree > 2: from v5, reach v2
    # (deg 3) but do not traverse through it
    got = {r["v"]: r["dist"] for r in adj_bfs(spark, g5, [5], k=3, max_degree=2).collect()}
    assert got == {5: 0, 2: 1}


def test_bfs_directed(spark):
    e = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)]
    df = spark.createDataFrame(e, "src long, dst long, w double")
    got = {r["v"]: r["dist"] for r in adj_bfs(spark, df, [1], k=1, directed=True).collect()}
    assert got == {1: 0, 2: 1}


@pytest.mark.parametrize("k", [0, 1, 2, 3])
def test_bfs_matches_python_oracle(spark, rgraph, g5, k):
    """adj_bfs against the deque oracle: undirected, directed and degree-gated
    traversals, repeated seeds (list and DataFrame) counted once."""
    el5 = [(s, d, 1.0) for s, d in GRAPHULO5_EDGES]
    el, rdf = rgraph
    seed_df = spark.createDataFrame([(5,), (5,)], "v long")
    cases = [
        (g5, el5, [5], {}),
        (g5, el5, [5, 5], {}),
        (rdf, el, [0], {}),
        (rdf, el, [0, 7], {"directed": True}),
        (rdf, el, [3], {"max_degree": 8}),
        (rdf, el, [3], {"min_degree": 3, "directed": True}),
    ]
    for df, edge_list, seeds, opts in cases:
        got = adj_bfs(spark, df, seeds, k=k, **opts).collect()
        want = python_bfs(edge_list, seeds, k, **opts)
        assert len(got) == len(want), (seeds, opts)
        assert {r["v"]: r["dist"] for r in got} == want, (seeds, opts)
    got = adj_bfs(spark, g5, seed_df, k=k).collect()
    assert sorted((r["v"], r["dist"]) for r in got) == sorted(python_bfs(el5, [5], k).items())
    # string vertex ids: list, DataFrame and repeated seeds keep the id type
    sel = [(f"v{s}", f"v{d}", 1.0) for s, d, _ in el5]
    sdf = spark.createDataFrame(sel, "src string, dst string, w double")
    want = python_bfs(sel, ["v5"], k)
    for seeds in (["v5"], ["v5", "v5"], spark.createDataFrame([("v5",), ("v5",)], "v string")):
        got = adj_bfs(spark, sdf, seeds, k=k).collect()
        assert sorted((r["v"], r["dist"]) for r in got) == sorted(want.items()), seeds


# ---------------------------------------------------------------------------
# cross-implementation equivalences (the reference's own check pattern:
# TriangleCountExample.java, AlgorithmTest.java:236-409)
# ---------------------------------------------------------------------------


def test_ktruss_edge_equals_adjacency_path(spark, rgraph, g5):
    from graphulo_spark.linalg.edges import canonicalize
    from graphulo_spark.linalg.incidence import from_incidence, to_incidence

    for df in (g5, rgraph[1]):
        for k in (3, 4):
            adj = {(r["src"], r["dst"]) for r in ktruss(spark, df, k=k).collect()}
            inc = ktruss_edge(spark, to_incidence(canonicalize(df)), k=k)
            edge = {(r["src"], r["dst"]) for r in from_incidence(inc).collect()}
            assert adj == edge, k


def test_tricount_via_support_equals_closers(spark, rgraph, g5):
    from graphulo_spark.algorithms.triangles import triangle_count_via_support

    el, rdf = rgraph
    assert triangle_count_via_support(g5) == triangle_count(g5) == 2
    assert triangle_count_via_support(rdf) == triangle_count(rdf)


def test_edge_support_wedges_are_degree_oriented(spark, rgraph, g5):
    """Scale guard: edge_support must generate its wedges under the DEGREE
    orientation (hubs receive, never fan out — Graphulo's d(d-1)/2 split
    concern, Graphulo.java:2701-2739). The degree join's internal aliases
    (ds/dd) are visible in the physical plan; an id-order plan has neither.
    Values stay exact: per-edge support on a hub graph where id order and
    degree order disagree matches a brute-force Python oracle."""
    import contextlib
    import io
    import itertools

    from graphulo_spark.algorithms.triangles import edge_support

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        edge_support(g5).explain("formatted")
    plan = buf.getvalue()
    assert "ds#" in plan and "dd#" in plan, "edge_support wedge source is not degree-oriented"

    # hub vertex 100 (max id, max degree) + triangles hanging off it: under
    # id order the hub is a wedge *center* only via its low-id neighbors, so
    # orientations genuinely disagree about who fans out
    hub_edges = [(i, 100) for i in range(1, 9)] + [(1, 2), (3, 4), (5, 6)]
    df = spark.createDataFrame([(a, b, 1.0) for a, b in hub_edges], "src long, dst long, w double")
    adj = {v: set() for v in set(itertools.chain.from_iterable(hub_edges))}
    for a, b in hub_edges:
        adj[a].add(b)
        adj[b].add(a)
    expected = {
        (a, b): len(adj[a] & adj[b]) for a, b in hub_edges
    }
    got = {(r["src"], r["dst"]): r["support"] for r in edge_support(df).collect()}
    assert got == expected


# ---------------------------------------------------------------------------
# scale-shape guards
# ---------------------------------------------------------------------------


def test_cc_pointer_jumping_logarithmic_on_path(spark):
    """A 1024-vertex path converges in O(log n) rounds with shortcutting —
    plain min-label propagation would need ~1023."""
    n = 1024
    df = spark.createDataFrame([(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, w double")
    hist = []
    out = connected_components(spark, df, max_iter=30, history=hist)
    assert hist[-1]["changed"] == 0, "did not converge"
    assert len(hist) <= 15, f"needed {len(hist)} rounds — shortcutting broken?"
    assert out.filter(out["component"] != 0).count() == 0  # one component, min id 0


def test_cc_label_mass_delta_monotone(spark):
    """cc's convergence witness is the round's changed-row count, summed
    while the label table is written (no |V|-vs-|V| diff join). Every
    recorded count is > 0 until the final 0, and a zero count genuinely
    means fixpoint (labels == min-id assignment), for long and string ids."""
    el = _random_graph(n=60, m=90, seed=77)
    df = spark.createDataFrame(el, "src long, dst long, w double")
    hist = []
    out = connected_components(spark, df, max_iter=40, history=hist)
    assert hist[-1]["changed"] == 0
    assert all(h["changed"] > 0 for h in hist[:-1]), hist
    # string vertex ids: same components, same zero-terminated history
    sdf = spark.createDataFrame(
        [(f"v{s:03d}", f"v{d:03d}", 1.0) for s, d, _ in el],
        "src string, dst string, w double",
    )
    shist = []
    sout = connected_components(spark, sdf, max_iter=40, history=shist)
    assert shist[-1]["changed"] == 0
    assert all(h["changed"] > 0 for h in shist[:-1]), shist
    scomp = {r["v"]: r["component"] for r in sout.collect()}
    comp0 = {r["v"]: r["component"] for r in out.collect()}
    assert scomp == {f"v{v:03d}": f"v{c:03d}" for v, c in comp0.items()}
    # the fixpoint the delta detected is the true min-label assignment
    comp = {r["v"]: r["component"] for r in out.collect()}
    adj = {}
    for s, d, _ in el:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    for v in comp:
        stack, seen = [v], {v}
        while stack:
            u = stack.pop()
            for w in adj.get(u, ()):
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        assert comp[v] == min(seen)


def _jobs_per_call(spark, group, fn) -> int:
    """Spark jobs ``fn`` runs, with AQE off (one job per action) and a cold
    cache. The loops release their own caches on exit, so clearing is only
    a guard against tables another test left cached: a cache hit would skew
    the setup job count."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("idle", "idle")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def no_aqe(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_pagerank_one_job_per_superstep(spark, no_aqe):
    """Fixed-iteration mode on a dangling-free graph runs exactly ONE Spark
    job per superstep (the state materialization) — never more, and no
    per-superstep driver collects (the VERDICT r01 'What's wrong' #4
    regression guard): 3 extra supersteps cost exactly 3 extra jobs. With
    ``tol > 0`` the L1 delta is summed while the state is written, so the
    test adds no job (too tight a tol to stop early here): still 3."""
    from graphulo_spark.linalg.edges import symmetrize

    el = _random_graph(n=40, m=100, seed=31)
    df = symmetrize(spark.createDataFrame(el, "src long, dst long, w double")).localCheckpoint()
    for tol, per_step in ((0.0, 1), (1e-15, 1)):
        hist: list = []
        j2 = _jobs_per_call(spark, f"pr-jobs-2-{tol}", lambda: pagerank(spark, df, tol=tol, max_iter=2))
        j5 = _jobs_per_call(
            spark, f"pr-jobs-5-{tol}", lambda: pagerank(spark, df, tol=tol, max_iter=5, history=hist)
        )
        assert len(hist) == 5, (tol, hist)
        assert j5 - j2 == 3 * per_step, (
            f"tol={tol}: expected {3 * per_step} extra jobs for 3 extra supersteps, got {j5 - j2}"
        )


def test_cc_three_jobs_per_round(spark, no_aqe):
    """A CC round on this small graph is exactly three jobs: the label-table
    materialization and the two broadcast builds the planner picks for the
    small gather and jump joins. The changed-row count is summed while the
    labels are written, so the convergence test adds none. Both calls stop
    at their round cap on a long path (pointer jumping needs ~log2(256)
    rounds)."""
    df = spark.createDataFrame([(i, i + 1, 1.0) for i in range(255)], "src long, dst long, w double")
    h2, h5 = [], []
    j2 = _jobs_per_call(spark, "cc-jobs-2", lambda: connected_components(spark, df, max_iter=2, history=h2))
    j5 = _jobs_per_call(spark, "cc-jobs-5", lambda: connected_components(spark, df, max_iter=5, history=h5))
    assert (len(h2), len(h5)) == (2, 5) and h5[-1]["changed"] > 0
    assert j5 - j2 == 9, f"expected 9 extra jobs for 3 extra rounds, got {j5 - j2}"


def test_bfs_two_jobs_per_step(spark, no_aqe):
    """A BFS step on this small graph is exactly two jobs: the state
    materialization and the broadcast build of the small edge table for the
    frontier gather. The frontier-flag sum is taken while the state is
    written, so the fixpoint test adds none. Both calls stop at their step
    cap: the path from vertex 0 is 255 hops long."""
    df = spark.createDataFrame([(i, i + 1, 1.0) for i in range(255)], "src long, dst long, w double")
    inc = to_incidence(df)
    for name, bfs in (
        ("adj", lambda k: adj_bfs(spark, df, [0], k=k)),
        ("edge", lambda k: edge_bfs(spark, inc, [0], k=k)),
    ):
        j2 = _jobs_per_call(spark, f"{name}-bfs-jobs-2", lambda: bfs(2))
        j5 = _jobs_per_call(spark, f"{name}-bfs-jobs-5", lambda: bfs(5))
        assert j5 - j2 == 6, f"{name}: expected 6 extra jobs for 3 extra steps, got {j5 - j2}"


def test_label_prop_two_jobs_per_superstep(spark, no_aqe):
    """An LP superstep on this small graph is exactly two jobs, the same as
    before the loop went through the superstep harness: the label-table
    materialization and the broadcast build of the small edge table. The
    vote plan is decided once in setup, never per superstep."""
    df = spark.createDataFrame([(i, i + 1, 1.0) for i in range(255)], "src long, dst long, w double")
    j2 = _jobs_per_call(spark, "lp-jobs-2", lambda: label_propagation(spark, df, iters=2))
    j5 = _jobs_per_call(spark, "lp-jobs-5", lambda: label_propagation(spark, df, iters=5))
    assert j5 - j2 == 6, f"expected 6 extra jobs for 3 extra supersteps, got {j5 - j2}"


def test_scc_jobs_per_pass(spark, no_aqe):
    """One outer scc pass on a 256-vertex directed cycle (a single SCC) is 25
    jobs, the final collect included. The pass writes one state table, and
    the count of still-unassigned vertices is summed while it is written, so
    no pass runs an emptiness test or a separate write of its assigned or
    remaining vertices (a loop with those ran 29 jobs here)."""
    df = spark.createDataFrame([(i, (i + 1) % 256, 1.0) for i in range(256)], "src long, dst long, w double")
    assert _jobs_per_call(spark, "scc-jobs", lambda: scc(spark, df).collect()) == 25


def _line_graph_released(df):
    """line_graph returns a plan over its edge-id cache (the jaccard
    contract)."""
    caches: list = []
    line_graph(df, _cache_registry=caches).count()
    for c in caches:
        c.unpersist()


def _jaccard_released(df):
    """jaccard returns a plan over its cache; a caller that consumes the plan
    releases the registered handle."""
    caches: list = []
    jaccard(df, _cache_registry=caches).count()
    for c in caches:
        c.unpersist()


@pytest.mark.parametrize(
    "run",
    [
        pytest.param(lambda spark, df: pagerank(spark, df, max_iter=3), id="pagerank"),
        pytest.param(lambda spark, df: connected_components(spark, df), id="cc"),
        pytest.param(lambda spark, df: label_propagation(spark, df, iters=2), id="lp"),
        pytest.param(lambda spark, df: nmf(spark, df, k=2, max_iter=2), id="nmf"),
        pytest.param(lambda spark, df: adj_bfs(spark, df, [0], k=2), id="adj_bfs"),
        pytest.param(
            lambda spark, df: edge_bfs(spark, to_incidence(df), [0], k=2), id="edge_bfs"
        ),
        pytest.param(lambda spark, df: ktruss(spark, df, k=3), id="ktruss"),
        pytest.param(
            lambda spark, df: ktruss_edge(spark, to_incidence(df), k=3), id="ktruss_edge"
        ),
        pytest.param(lambda spark, df: scc(spark, df), id="scc"),
        pytest.param(lambda spark, df: triangle_count(df), id="triangle_count"),
        pytest.param(lambda spark, df: _jaccard_released(df), id="jaccard"),
        pytest.param(lambda spark, df: _line_graph_released(df), id="line_graph"),
    ],
)
def test_loops_release_their_caches(spark, run):
    """Every loop unpersists the tables it cached for its own use: the
    session's cache manager is empty again after one call."""
    df = spark.createDataFrame(_random_graph(n=50, m=200, seed=5), "src long, dst long, w double")
    spark.catalog.clearCache()
    run(spark, df)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
