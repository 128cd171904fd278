"""Independent reference computations for the benchmark's output checks.

Everything here is plain numpy/pandas over data collected to the driver; no
engine code runs. The edge oracles re-derive the link graph from the raw
inputs (order lines, transcript turns) with the engine's documented
semantics. The algorithm oracles take the engine's own edge table, so a
wrong derivation and a wrong algorithm fail separate checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ALPHA = 0.85


def make_lineitem(seed: int, n_parts: int, n_orders: int) -> tuple[np.ndarray, np.ndarray]:
    """TPC-H-shaped order lines: 1 + Poisson(3.07) lines per order (mean 4.07,
    the sf0.1 lineitem table's shape), part keys uniform over n_parts."""
    rng = np.random.default_rng(seed)
    sizes = 1 + rng.poisson(3.07, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), sizes)
    partkey = rng.integers(0, n_parts, orderkey.size, dtype=np.int64)
    return orderkey, partkey


def copurchase_sym(orderkey: np.ndarray, partkey: np.ndarray) -> pd.DataFrame:
    """symmetrize(copurchase_edges): every pair of lines in one order with
    different parts adds 1 to w(a,b) and w(b,a). ``orderkey`` must be sorted."""
    starts = np.flatnonzero(np.r_[True, orderkey[1:] != orderkey[:-1]])
    sizes = np.diff(np.r_[starts, orderkey.size])
    los, his = [], []
    for s in np.unique(sizes[sizes >= 2]):
        base = starts[sizes == s][:, None] + np.arange(s)[None, :]
        i, j = np.triu_indices(s, k=1)
        a, b = partkey[base[:, i]].ravel(), partkey[base[:, j]].ravel()
        keep = a != b
        los.append(np.minimum(a, b)[keep])
        his.append(np.maximum(a, b)[keep])
    canon = pd.DataFrame({"src": np.concatenate(los), "dst": np.concatenate(his)})
    canon = canon.groupby(["src", "dst"]).size().rename("w").reset_index()
    canon["w"] = canon["w"].astype("float64")
    return _both_directions(canon)


def transcript_sym(turns: pd.DataFrame) -> pd.DataFrame:
    """symmetrize(induce_edges(turns)) over entity *strings*: a turn's entity
    is ``role`` or ``role/tool``; consecutive turns of a conversation link
    their entities and every turn links ``conv:<id>`` to its entity. Directed
    counts are summed over both directions, self-loops dropped."""
    t = turns.sort_values(["conv_id", "turn_idx"], kind="stable")
    ent = np.where(t["tool"].isna(), t["role"], t["role"] + "/" + t["tool"].fillna(""))
    conv = t["conv_id"].to_numpy()
    prev = np.empty_like(ent)
    prev[1:] = ent[:-1]
    same_conv = np.r_[False, conv[1:] == conv[:-1]]
    directed = pd.concat(
        [
            pd.DataFrame({"src": prev[same_conv], "dst": ent[same_conv]}),
            pd.DataFrame({"src": "conv:" + t["conv_id"].to_numpy(), "dst": ent}),
        ],
        ignore_index=True,
    )
    directed = directed[directed["src"] != directed["dst"]]
    both = pd.concat(
        [directed, directed.rename(columns={"src": "dst", "dst": "src"})], ignore_index=True
    )
    sym = both.groupby(["src", "dst"]).size().rename("w").reset_index()
    sym["w"] = sym["w"].astype("float64")
    return sym


def _both_directions(canon: pd.DataFrame) -> pd.DataFrame:
    rev = canon.rename(columns={"src": "dst", "dst": "src"})
    return pd.concat([canon, rev], ignore_index=True)[["src", "dst", "w"]]


def sort_edges(e: pd.DataFrame) -> pd.DataFrame:
    return e[["src", "dst", "w"]].sort_values(["src", "dst"]).reset_index(drop=True)


def triangle_count(sym: pd.DataFrame) -> int:
    """Triangles of the undirected graph, each counted once: orient every
    edge from lower to higher (degree, id) and intersect forward neighbour
    sets, so hubs contribute no wedges."""
    canon = sym[sym["src"] < sym["dst"]]
    ids, inv = np.unique(np.r_[canon["src"].to_numpy(), canon["dst"].to_numpy()], return_inverse=True)
    u, v = inv[: len(canon)], inv[len(canon):]
    deg = np.bincount(inv, minlength=ids.size)
    lo_first = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    a, b = np.where(lo_first, u, v), np.where(lo_first, v, u)
    fwd: list[set] = [set() for _ in range(ids.size)]
    for x, y in zip(a.tolist(), b.tolist()):
        fwd[x].add(y)
    return sum(len(fwd[x] & fwd[y]) for x, y in zip(a.tolist(), b.tolist()))


def _index(sym: pd.DataFrame):
    ids = np.unique(np.r_[sym["src"].to_numpy(), sym["dst"].to_numpy()])
    return ids, np.searchsorted(ids, sym["src"].to_numpy()), np.searchsorted(ids, sym["dst"].to_numpy())


def pagerank(sym: pd.DataFrame, steps: int) -> pd.Series:
    """``steps`` power iterations from 1/n with dangling mass spread evenly —
    the engine's fixed-iteration (tol=0) semantics."""
    ids, s, d = _index(sym)
    n = ids.size
    w = sym["w"].to_numpy()
    out_w = np.bincount(s, weights=w, minlength=n)
    nw = w / out_w[s]
    dangling = out_w == 0
    r = np.full(n, 1.0 / n)
    for _ in range(steps):
        contrib = np.bincount(d, weights=nw * r[s], minlength=n)
        r = (1 - ALPHA) / n + ALPHA * (contrib + r[dangling].sum() / n)
    return pd.Series(r, index=ids)


def components(sym: pd.DataFrame) -> pd.Series:
    """Component label = smallest vertex id in the component."""
    ids, s, d = _index(sym)
    label = np.arange(ids.size)
    while True:
        new = label.copy()
        np.minimum.at(new, d, label[s])
        new = new[new]
        if np.array_equal(new, label):
            return pd.Series(ids[label], index=ids)
        label = new


def label_propagation(sym: pd.DataFrame, iters: int) -> pd.Series:
    """Synchronous weighted-vote label propagation: heaviest label wins,
    smallest label on ties. Integer-valued weights keep every sum exact."""
    e = sym[["src", "dst", "w"]]
    ids = np.unique(np.r_[e["src"].to_numpy(), e["dst"].to_numpy()])
    labels = pd.Series(ids, index=ids)
    for _ in range(iters):
        votes = (
            pd.DataFrame({"v": e["dst"].to_numpy(), "label": labels.loc[e["src"]].to_numpy(), "w": e["w"].to_numpy()})
            .groupby(["v", "label"], sort=False)["w"]
            .sum()
            .reset_index()
            .sort_values(["v", "w", "label"], ascending=[True, False, True], kind="stable")
        )
        win = votes.drop_duplicates("v")
        labels = pd.Series(win["label"].to_numpy(), index=win["v"].to_numpy()).sort_index()
    return labels
