"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The unit tests need no Spark. The smoke tests run the benchmark end to end
on tiny inputs (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench.run import quantile  # noqa: E402
from perfbench.spans import Patcher, Target, Tracer, self_time  # noqa: E402
from perfbench.workloads import LP_ITERS, OPS, PAGERANK_STEPS, Copurchase, Op, Pass  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children count once; parts outside the span do not count
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (9.0, 12.0), (-3.0, -1.0)]) == 5.0


def test_tracer_nesting_and_self_time():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))
    with tr.span("outer") as outer:
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("a"):
                pass
    a, b = tr.children(outer)
    assert [s.name for s in (a, b)] == ["a", "b"]
    assert [s.name for s in tr.descendants(outer, {"a"})] == ["a", "a"]
    assert tr.self_time(outer) == pytest.approx(outer.dur - a.dur - b.dur)
    assert tr.dump()[0]["self_s"] == tr.self_time(outer)


def test_quantile_interpolates():
    assert quantile([], 0.5) == 0.0
    assert quantile([3.0], 0.9) == 3.0
    assert quantile([4.0, 1.0, 3.0, 2.0], 0.5) == 2.5
    assert quantile([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0], 0.9) == 10.0


@pytest.fixture()
def fake_engine():
    """fakeeng.core defines f and class C; fakeeng.user imports f by name."""
    core = types.ModuleType("fakeeng.core")
    exec("def f(x):\n    return [x, x]\n\nclass C:\n    def save(self, x):\n        return x + 1\n", core.__dict__)
    user = types.ModuleType("fakeeng.user")
    user.f = user.alias = core.f
    user.C = core.C
    pkg = types.ModuleType("fakeeng")
    mods = {"fakeeng": pkg, "fakeeng.core": core, "fakeeng.user": user}
    sys.modules.update(mods)
    yield core, user
    for name in mods:
        sys.modules.pop(name, None)


def test_patcher_wraps_every_alias_and_restores(fake_engine):
    core, user = fake_engine
    original, original_save = core.f, vars(core.C)["save"]
    tr = Tracer()
    p = Patcher(tr, package="fakeeng")
    p.install([
        Target("f", "fakeeng.core", "f", lambda out: {"n": len(out)}),
        Target("save", "fakeeng.core", "C.save"),
        Target("gone", "fakeeng.core", "vanished"),
    ])
    assert user.alias(1) == [1, 1] and user.f(2) == [2, 2] and core.f(3) == [3, 3]
    assert user.C().save(1) == 2
    assert [s.name for s in tr.spans] == ["f", "f", "f", "save"]
    assert tr.spans[0].attrs == {"n": 2}
    assert sorted(p.sites["f"]) == ["fakeeng.core.f", "fakeeng.user.alias", "fakeeng.user.f"]
    assert "gone" in p.missing and "vanished" in p.missing["gone"]
    p.restore()
    assert core.f is original and user.alias is original
    assert vars(core.C)["save"] is original_save
    tr.spans.clear()
    user.f(1)
    assert tr.spans == []


# -- oracles -----------------------------------------------------------------

GRAPHULO5 = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4), (2, 5)]


def _sym(pairs):
    rows = [(a, b, 1.0) for a, b in pairs] + [(b, a, 1.0) for a, b in pairs]
    return pd.DataFrame(rows, columns=["src", "dst", "w"])


def test_oracles_on_the_graphulo5_fixture():
    g = _sym(GRAPHULO5)
    assert oracle.triangle_count(g) == 2
    assert set(oracle.components(g)) == {1}
    assert oracle.pagerank(g, 10).sum() == pytest.approx(1.0, abs=1e-12)
    two = _sym([(1, 2), (7, 8), (8, 9)])
    assert oracle.components(two).to_dict() == {1: 1, 2: 1, 7: 7, 8: 7, 9: 7}


def test_copurchase_oracle_counts_pairs_with_multiplicity():
    orderkey = pd.Series([0, 0, 0, 1, 1, 2]).to_numpy()
    partkey = pd.Series([5, 6, 5, 5, 6, 9]).to_numpy()
    e = oracle.sort_edges(oracle.copurchase_sym(orderkey, partkey))
    # order 0 has (5,6) twice and a (5,5) pair that is dropped; order 1 once more
    assert e.values.tolist() == [[5, 6, 3.0], [6, 5, 3.0]]


# -- checks ------------------------------------------------------------------

def _checked_smoke_pass(golden):
    """A copurchase smoke pass whose outputs are the oracles' own, checked
    against ``golden``. No Spark: the edge output is a stub with ``toPandas``."""
    wl = Copurchase(spark=None, run=None, size="smoke", seed=3)
    wl.orderkey, wl.partkey = oracle.make_lineitem(3, **wl.params)
    edges = oracle.sort_edges(wl.oracle_edges())

    def frame(series, col):
        return pd.DataFrame({"v": series.index, col: series.to_numpy()})

    p = Pass(ops={name: Op(name) for name in OPS}, out={
        "edges": types.SimpleNamespace(toPandas=lambda: edges),
        "pagerank": frame(oracle.pagerank(edges, PAGERANK_STEPS), "rank"),
        "cc": frame(oracle.components(edges), "component"),
        "lp": frame(oracle.label_propagation(edges, LP_ITERS), "label"),
        "triangles": oracle.triangle_count(edges),
    })
    wl.check(p, golden, bitwise=False)
    return p


def test_right_outputs_pass_every_check():
    p = _checked_smoke_pass({})
    assert [op.problems for op in p.ops.values()] == [[]] * len(OPS)
    golden = {k: p.graph[k] for k in ("edges", "vertices", "triangles")}
    assert sum(op.failed for op in _checked_smoke_pass(golden).ops.values()) == 0


def test_wrong_golden_is_a_counted_failure():
    p = _checked_smoke_pass({"edges": 1})
    assert [op.name for op in p.ops.values() if op.failed] == ["edges"]
    assert p.ops["edges"].problems == [f"golden edges: {p.graph['edges']} != 1"]


# -- end to end ----------------------------------------------------------------

def _run(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _units(section):
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_smoke_untraced_emits_every_end_to_end_metric():
    r = _result(_run("--workload", "copurchase", "--size", "smoke", "--seed", "3", "--seconds", "1", "--trace", "0"))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] == 5
    assert {k: v["unit"] for k, v in r["metrics"].items()} == _units("end_to_end")
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_smoke_traced_emits_every_per_layer_metric():
    r = _result(_run("--workload", "transcripts", "--size", "smoke", "--seed", "3", "--seconds", "1", "--trace", "1"))
    assert r["correct"] and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == _units("per_layer")
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert all(v >= 0 for v in m.values()), "no entry point may be missing on the current engine"
    assert m["pagerank.supersteps"] == 10 and m["lp.supersteps"] == 5
    assert m["checkpoint.save_calls"] == 11 and m["pagerank.resume_s"] > 0
    assert m["transcripts.generate_s"] > 0 and m["entry.copurchase_edges_s"] == 0


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "copurchase", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_refuses_while_an_earlier_run_jvm_is_alive():
    # a stand-in process whose command line looks like a benchmark driver JVM
    fake = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)",
                             "org.apache.spark.deploy.SparkSubmit", "--conf", "spark.app.name=perfbench"])
    try:
        proc = _run("--workload", "copurchase", "--seed", "1", "--seconds", "1", "--trace", "0")
    finally:
        fake.kill()
        fake.wait(10)
    assert proc.returncode == 3
    assert "REFUSING" in proc.stderr and '"correct"' not in proc.stdout
