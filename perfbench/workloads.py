"""The two workloads: inputs made from the seed, one pass of engine calls
through the public API with default strategies, and the output checks.

A pass is five operations: derive the symmetric edge table, PageRank
(10 supersteps, tol=0), connected components to fixpoint, label propagation
(5 iterations) and the triangle count. On ``transcripts`` PageRank runs with
a ``checkpoint_dir``: it stops after 5 supersteps and a second call resumes
it to 10, so loop state goes through parquet instead of ``materialize``.
"""

from __future__ import annotations

import os
import time
import traceback
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd

from perfbench import oracle

PAGERANK_STEPS = 10
PAGERANK_INTERRUPT = 5
LP_ITERS = 5
OPS = ("edges", "pagerank", "cc", "lp", "triangles")

SIZES = {
    "full": {"copurchase": {"n_parts": 2_000, "n_orders": 14_724}, "transcripts": {"n_convs": 20_000}},
    "smoke": {"copurchase": {"n_parts": 200, "n_orders": 1_472}, "transcripts": {"n_convs": 300}},
}

# pinned outputs at seed 42: a change to an input generator or to the
# derivation shows here even when engine and oracle move together
GOLDEN: dict[tuple[str, str, int], dict[str, int]] = {
    ("copurchase", "full", 42): {"vertices": 2_000, "edges": 224_240, "triangles": 377_233},
    ("transcripts", "full", 42): {"vertices": 20_014, "edges": 237_570, "triangles": 399_392},
}


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    error: str | None = None
    problems: list[str] = field(default_factory=list)

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


@dataclass
class Pass:
    ops: dict[str, Op] = field(default_factory=dict)
    out: dict[str, Any] = field(default_factory=dict)
    resume_window: tuple[float, float] | None = None
    graph: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return sum(op.seconds for op in self.ops.values())


class Workload:
    """One pass over one graph. ``tracer``/``counters`` are set only in the
    traced run; the untraced run calls the engine exactly as a user would."""

    name = ""
    checkpointed = False

    def __init__(self, spark: Any, run: Any, size: str, seed: int, tracer: Any = None, counters: Any = None):
        self.spark = spark
        self.run = run
        self.seed = seed
        self.params = SIZES[size][self.name]
        self.tracer = tracer
        self.counters = counters
        self.group_counts: dict[str, dict[str, float]] = {}

    def _span(self, name: str, **attrs: Any):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    # -- inputs and edge derivation (per workload) ----------------------------
    def prepare(self) -> None:
        """Write this run's input files (untimed)."""

    def edge_plan(self):
        raise NotImplementedError

    def edge_layers(self):
        """Traced run: the same derivation, materialized layer by layer."""
        raise NotImplementedError

    def oracle_edges(self) -> pd.DataFrame:
        raise NotImplementedError

    # -- the pass ----------------------------------------------------------
    def run_pass(self) -> Pass:
        from graphulo_spark.algorithms import connected_components, label_propagation
        from graphulo_spark.algorithms.triangles import triangle_count

        p = Pass()
        spark = self.spark
        edges = self._op(p, "edges", self._edges)
        if edges is None:
            for name in OPS[1:]:
                p.ops[name] = Op(name, error="edge table unavailable")
            return p
        self._op(p, "pagerank", lambda: self._pagerank(edges, p))
        self._op(p, "cc", lambda: connected_components(spark, edges).toPandas())
        self._op(p, "lp", lambda: label_propagation(spark, edges, iters=LP_ITERS).toPandas())
        self._op(p, "triangles", lambda: triangle_count(edges))
        return p

    def _op(self, p: Pass, name: str, fn: Callable[[], Any]) -> Any:
        op = p.ops[name] = Op(name)
        group = self.counters.group(name) if self.counters else nullcontext()
        t0 = time.perf_counter()
        try:
            with group, self._span(f"op:{name}"):
                out = fn()
        except Exception as exc:  # a failing engine call is a counted failure
            traceback.print_exc()
            op.error = f"{type(exc).__name__}: {exc}"[:500]
            return None
        op.seconds = time.perf_counter() - t0
        if self.counters:
            self.group_counts[name] = self.counters.read(name)
        p.out[name] = out
        return out

    def _edges(self):
        edges = self.edge_layers() if self.tracer else self.edge_plan().localCheckpoint()
        edges.count()
        return edges

    def _pagerank(self, edges, p: Pass) -> pd.DataFrame:
        from graphulo_spark.algorithms import pagerank

        if not self.checkpointed:
            return pagerank(self.spark, edges, tol=0.0, max_iter=PAGERANK_STEPS).toPandas()
        ckpt = self.run.sub("ckpt/pagerank")
        pagerank(self.spark, edges, tol=0.0, max_iter=PAGERANK_INTERRUPT, checkpoint_dir=ckpt)
        t0 = time.perf_counter()
        ranks = pagerank(
            self.spark, edges, tol=0.0, max_iter=PAGERANK_STEPS, checkpoint_dir=ckpt, resume=True
        ).toPandas()
        p.resume_window = (t0, time.perf_counter())
        return ranks

    def uninterrupted_pagerank(self, edges) -> pd.DataFrame:
        """The checkpointed run without the interruption, for the bitwise check."""
        from graphulo_spark.algorithms import pagerank

        ckpt = self.run.sub("ckpt/pagerank_uninterrupted")
        return pagerank(self.spark, edges, tol=0.0, max_iter=PAGERANK_STEPS, checkpoint_dir=ckpt).toPandas()

    # -- checks (untimed, after the pass) ------------------------------------
    def check(self, p: Pass, golden: dict[str, int], bitwise: bool) -> None:
        """Fill each op's ``problems``; an op that raised keeps its error."""
        if p.ops["edges"].failed:
            return
        engine = oracle.sort_edges(p.out["edges"].toPandas())
        expect = oracle.sort_edges(self.oracle_edges())
        p.graph = {"edges": len(engine), "vertices": int(np.unique(engine[["src", "dst"]].to_numpy()).size)}
        p.ops["edges"].problems += _edge_diff(engine, expect)
        for k in ("edges", "vertices"):
            if k in golden and p.graph[k] != golden[k]:
                p.ops["edges"].problems.append(f"golden {k}: {p.graph[k]} != {golden[k]}")

        def ok(name: str) -> bool:
            return name in p.out and not p.ops[name].failed

        if ok("pagerank"):
            p.ops["pagerank"].problems += _rank_diff(p.out["pagerank"], oracle.pagerank(engine, PAGERANK_STEPS))
            if bitwise and self.checkpointed:
                whole = self.uninterrupted_pagerank(p.out["edges"])
                got = p.out["pagerank"].sort_values("v")["rank"].to_numpy()
                want = whole.sort_values("v")["rank"].to_numpy()
                if got.tobytes() != want.tobytes():
                    p.ops["pagerank"].problems.append("resumed ranks differ bitwise from the uninterrupted run")
        if ok("cc"):
            p.ops["cc"].problems += _label_diff(p.out["cc"], "component", oracle.components(engine))
        if ok("lp"):
            p.ops["lp"].problems += _label_diff(p.out["lp"], "label", oracle.label_propagation(engine, LP_ITERS))
        if ok("triangles"):
            want = p.graph["triangles"] = oracle.triangle_count(expect)
            if "triangles" in golden and want != golden["triangles"]:
                p.ops["triangles"].problems.append(f"golden triangles: {want} != {golden['triangles']}")
            if p.out["triangles"] != want:
                p.ops["triangles"].problems.append(f"triangles {p.out['triangles']} != oracle {want}")


class Copurchase(Workload):
    """Parts bought in one order are linked (``entry.copurchase_edges``) over
    an order-line table made from the seed with the sf0.1 table's shape:
    edge-heavy, dense (mean degree ~110), no hub vertex, many triangles."""

    name = "copurchase"

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.orderkey, self.partkey = oracle.make_lineitem(self.seed, **self.params)
        self.data_dir = self.run.sub("data")
        pq.write_table(
            pa.table({"l_orderkey": self.orderkey, "l_partkey": self.partkey}),
            os.path.join(self.data_dir, "lineitem.parquet"),
        )

    def edge_plan(self):
        from graphulo_spark.entry import copurchase_edges
        from graphulo_spark.linalg import symmetrize

        return symmetrize(copurchase_edges(self.spark, self.data_dir))

    def edge_layers(self):
        from graphulo_spark.entry import copurchase_edges
        from graphulo_spark.linalg import symmetrize

        with self._span("entry.copurchase_edges"):
            pairs = copurchase_edges(self.spark, self.data_dir).localCheckpoint()
        with self._span("linalg.symmetrize"):
            return symmetrize(pairs).localCheckpoint()

    def oracle_edges(self) -> pd.DataFrame:
        return oracle.copurchase_sym(self.orderkey, self.partkey)


class Transcripts(Workload):
    """The paper's own path: synthetic conversations (``transcripts``
    generator, seeded) induced into an entity/conversation graph. |V| is
    about 10x copurchase's at the same |E|, a handful of entity vertices
    are hubs past the skew gate, triangles are light, and PageRank state
    goes through the checkpointer."""

    name = "transcripts"
    checkpointed = True

    def _turns(self):
        from graphulo_spark.transcripts import generate_transcripts

        return generate_transcripts(self.spark, self.params["n_convs"], seed=self.seed)

    def edge_plan(self):
        from graphulo_spark.linalg import symmetrize
        from graphulo_spark.transcripts import induce_edges

        return symmetrize(induce_edges(self._turns()))

    def edge_layers(self):
        from graphulo_spark.linalg import symmetrize
        from graphulo_spark.transcripts import induce_edges

        with self._span("transcripts.generate"):
            # the columns induction reads: the fused plan prunes the rest
            turns = self._turns().select("conv_id", "turn_idx", "role", "tool").localCheckpoint()
        with self._span("transcripts.induce"):
            directed = induce_edges(turns).localCheckpoint()
        with self._span("linalg.symmetrize"):
            return symmetrize(directed).localCheckpoint()

    def oracle_edges(self) -> pd.DataFrame:
        """Re-derive the graph from the generated turns on entity strings,
        then name vertices with Spark's xxhash64 (the engine's vertex id)."""
        from pyspark.sql import functions as F

        turns = self._turns().select("conv_id", "turn_idx", "role", "tool").toPandas()
        sym = oracle.transcript_sym(turns)
        names = pd.unique(np.r_[sym["src"].to_numpy(), sym["dst"].to_numpy()])
        ids = (
            self.spark.createDataFrame(pd.DataFrame({"e": names}))
            .select("e", F.xxhash64("e").alias("id"))
            .toPandas()
            .set_index("e")["id"]
        )
        return pd.DataFrame({
            "src": ids.loc[sym["src"]].to_numpy(),
            "dst": ids.loc[sym["dst"]].to_numpy(),
            "w": sym["w"].to_numpy(),
        })


WORKLOADS = {w.name: w for w in (Copurchase, Transcripts)}


def _edge_diff(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"|E| {len(got)} != oracle {len(want)}"]
    for c in ("src", "dst", "w"):
        if not np.array_equal(got[c].to_numpy(), want[c].to_numpy()):
            return [f"edge table column {c} differs from the oracle"]
    return []


def _rank_diff(got: pd.DataFrame, want: pd.Series) -> list[str]:
    r = got.set_index("v")["rank"].sort_index()
    if not np.array_equal(r.index.to_numpy(), want.index.to_numpy()):
        return ["pagerank vertex set differs from the oracle"]
    out = []
    err = float(np.max(np.abs(r.to_numpy() - want.to_numpy())))
    if err > 1e-12:
        out.append(f"pagerank max |rank - oracle| = {err:.3g}")
    if abs(float(r.sum()) - 1.0) > 1e-9:
        out.append(f"pagerank sum of ranks = {float(r.sum())!r}")
    return out


def _label_diff(got: pd.DataFrame, col: str, want: pd.Series) -> list[str]:
    g = got.set_index("v")[col].sort_index()
    if not np.array_equal(g.index.to_numpy(), want.index.to_numpy()):
        return [f"{col}: vertex set differs from the oracle"]
    bad = int((g.to_numpy() != want.to_numpy()).sum())
    return [f"{col}: {bad} vertices differ from the oracle"] if bad else []
