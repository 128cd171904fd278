from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphulo_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="graphulo-spark-tests", cores=os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"),
                  shuffle_partitions=8)
    yield s


# Graphulo's golden 5-vertex fixture (AlgorithmTest.java:85-97): undirected
# edges v1-v2, v1-v3, v1-v4, v2-v3, v3-v4, v2-v5. Stored one-way canonical.
GRAPHULO5_EDGES = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4), (2, 5)]


@pytest.fixture(scope="session")
def g5(spark):
    return spark.createDataFrame(
        [(s, d, 1.0) for s, d in GRAPHULO5_EDGES], "src long, dst long, w double"
    )


# ---------------- pure-python / numpy oracles (test-only) ----------------

def numpy_pagerank(edge_list, alpha=0.85, tol=1e-6, max_iter=100):
    """Power iteration mirroring graphulo_spark.algorithms.pagerank exactly.

    Sparse over the edge arrays (O(|E|) memory): each edge carries
    w / out-weight(src) of its source's rank to its destination."""
    ids = sorted({s for s, d, w in edge_list} | {d for s, d, w in edge_list})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    src = np.array([idx[s] for s, d, w in edge_list], dtype=np.int64)
    dst = np.array([idx[d] for s, d, w in edge_list], dtype=np.int64)
    w = np.array([w for s, d, w in edge_list], dtype=np.float64)
    out = np.bincount(src, weights=w, minlength=n)
    share = np.zeros_like(w)
    np.divide(w, out[src], out=share, where=out[src] > 0)
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.bincount(dst, weights=r[src] * share, minlength=n)
        dangling = 1.0 - contrib.sum()
        new = (1 - alpha) / n + alpha * (contrib + dangling / n)
        delta = np.abs(new - r).sum()
        r = new
        if delta < tol:
            break
    return dict(zip(ids, r))


def python_cc(edge_list):
    """Union-find; component id = min vertex id in component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d, *_ in edge_list:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in list(parent)}


def python_label_prop(edge_list, iters):
    """Synchronous LP, weighted votes, min-label tie-break — mirrors
    graphulo_spark.algorithms.label_prop exactly."""
    from collections import defaultdict

    adj = defaultdict(lambda: defaultdict(float))
    for s, d, w in edge_list:
        if s != d:
            adj[s][d] += w
            adj[d][s] += w
    labels = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v in adj:
            votes = defaultdict(float)
            for u, w in adj[v].items():
                votes[labels[u]] += w
            best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[v] = best
        labels = new
    return labels


def python_triangles(edge_list):
    adj = {}
    edges = set()
    for s, d, *_ in edge_list:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        edges.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # triangle {x<y<z} counted exactly once: via edge (x,y) with closer z>y
    return sum(1 for a, b in edges for c in (adj[a] & adj[b]) if c > b)


def python_bfs(edge_list, seeds, k, directed=False, min_degree=None, max_degree=None):
    """Level-order BFS: {v: dist} for every vertex within k hops of ``seeds``
    — mirrors graphulo_spark.algorithms.bfs.adj_bfs. Undirected input is
    symmetrized (self loops dropped, one row per neighbor); directed input
    keeps every edge row. A vertex is expanded only when its out-degree (row
    count) lies in [min_degree, max_degree]."""
    from collections import deque

    out = {}
    for s, d, *_ in edge_list:
        if directed:
            out.setdefault(s, []).append(d)
        elif s != d:
            out.setdefault(s, set()).add(d)
            out.setdefault(d, set()).add(s)
    dist = {s: 0 for s in seeds}
    queue = deque(dist)
    while queue:
        u = queue.popleft()
        nbrs = out.get(u, ())
        if (
            dist[u] == k
            or (min_degree is not None and len(nbrs) < min_degree)
            or (max_degree is not None and len(nbrs) > max_degree)
        ):
            continue
        for v in nbrs:
            if v not in dist:
                dist[v] = dist[u] + 1
                queue.append(v)
    return dist
