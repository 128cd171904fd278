"""Incidence encoding, EdgeBFS parity with AdjBFS and the BFS oracle, line
graph vs python oracle."""

from __future__ import annotations

import pytest

from conftest import GRAPHULO5_EDGES, python_bfs
from graphulo_spark.algorithms import adj_bfs
from graphulo_spark.linalg import symmetrize
from graphulo_spark.linalg.incidence import edge_bfs, line_graph, to_incidence


def test_incidence_roundtrip_counts(g5):
    inc = to_incidence(g5)
    assert inc.count() == 2 * g5.count()
    assert {r["end"] for r in inc.select("end").distinct().collect()} == {"out", "in"}


def test_edge_bfs_matches_adj_bfs(spark, g5):
    """Same semantics, different encoding (SURVEY.md §2.1 EdgeBFS row): on a
    symmetrized graph the incidence-table BFS equals the adjacency BFS."""
    sym = symmetrize(g5)
    a = {(r["v"], r["dist"]) for r in adj_bfs(spark, g5, [5], k=2).collect()}
    e = {(r["v"], r["dist"]) for r in edge_bfs(spark, to_incidence(sym), [5], k=2).collect()}
    assert a == e


@pytest.mark.parametrize("k", [0, 1, 2, 3])
def test_edge_bfs_matches_python_oracle(spark, k):
    """Undirected incidence (both directions stored as edges) traverses like
    the undirected oracle; with start_end="in", finish_end="out" a directed
    incidence table is traversed along its reversed edges."""
    el = [(s, d, 1.0) for s, d in GRAPHULO5_EDGES] + [(5, 6, 1.0), (6, 7, 1.0), (7, 5, 1.0)]
    df = spark.createDataFrame(el, "src long, dst long, w double")
    und = {(r["v"], r["dist"]) for r in edge_bfs(spark, to_incidence(symmetrize(df)), [5], k=k).collect()}
    assert und == set(python_bfs(el, [5], k).items())
    rev = edge_bfs(spark, to_incidence(df), [5], k=k, start_end="in", finish_end="out")
    want = python_bfs([(d, s) for s, d, _ in el], [5], k, directed=True)
    assert {(r["v"], r["dist"]) for r in rev.collect()} == set(want.items())
    # string vertex ids
    sel = [(f"v{s}", f"v{d}", 1.0) for s, d, _ in el]
    sdf = spark.createDataFrame(sel, "src string, dst string, w double")
    got = edge_bfs(spark, to_incidence(symmetrize(sdf)), ["v5"], k=k).collect()
    assert {(r["v"], r["dist"]) for r in got} == set(python_bfs(sel, ["v5"], k).items())


def test_line_graph_undirected_oracle(spark, g5):
    # python oracle: pairs of distinct edges sharing >=1 endpoint
    edges = [(r["src"], r["dst"]) for r in g5.collect()]
    want = 0
    for i, (a, b) in enumerate(edges):
        for c, d in edges[i + 1:]:
            want += len({a, b} & {c, d}) > 0
    got = line_graph(g5).select("e1", "e2").distinct().count()
    assert got == want


def test_line_graph_directed(spark):
    e = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)], "src long, dst long, w double")
    # directed: head(e1) == tail(e2): (1→2,2→3), (2→3,3→1), (3→1,1→2)
    assert line_graph(e, directed=True).count() == 3


def test_line_graph_max_degree_guard(spark):
    """Hub skew guard: a degree-d shared endpoint emits C(d,2) pairs — the
    stop-key cap drops hub endpoints above max_degree before the self-join
    (default off = exact semantics, VERDICT r2 next-round #8)."""
    # star: hub 0 — leaves 1..5; every edge pair shares only the hub
    star = spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, 6)], "src long, dst long, w double"
    )
    assert line_graph(star).count() == 10  # C(5,2) via the hub — exact default
    assert line_graph(star, max_degree=4).count() == 0  # hub capped out
    # non-hub pairs survive the guard: path 1-2-3 shares degree-2 vertex 2
    path = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, w double")
    assert line_graph(path, max_degree=4).count() == 1
    # directed variant honors the cap too
    cyc = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)], "src long, dst long, w double"
    )
    assert line_graph(cyc, directed=True, max_degree=1).count() == 0
