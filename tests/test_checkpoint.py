"""Superstep checkpoint/resume: interrupted run == uninterrupted run, bitwise."""

from __future__ import annotations

import json
import os

import pytest

from conftest import numpy_pagerank
from graphulo_spark.algorithms import pagerank
from graphulo_spark.checkpoint import SuperstepCheckpointer, input_fingerprint
from test_algorithms import _random_graph


def _pr_params(df, **over):
    # "strategy": "plain" is a fixed entry of pagerank's params dict; the
    # pinned hashes below depend on it
    p = {"alg": "pagerank", "alpha": 0.85, "tol": 0.0, "strategy": "plain",
         "input_fp": input_fingerprint(df, "src", "dst", "w")}
    p.update(over)
    return p


def _ranks(df):
    return {r["v"]: r["rank"] for r in df.collect()}


def test_resume_bitwise_identical(spark, tmp_path):
    el = _random_graph(n=40, m=120, seed=11)
    df = spark.createDataFrame(el, "src long, dst long, w double")

    full_dir = str(tmp_path / "full")
    a = _ranks(pagerank(spark, df, tol=0.0, max_iter=8, checkpoint_dir=full_dir))

    # simulate a kill after 4 supersteps, then resume to 8
    kill_dir = str(tmp_path / "killed")
    pagerank(spark, df, tol=0.0, max_iter=4, checkpoint_dir=kill_dir)
    b = _ranks(pagerank(spark, df, tol=0.0, max_iter=8, checkpoint_dir=kill_dir, resume=True))

    assert set(a) == set(b)
    for v in a:
        assert a[v] == b[v], v  # bitwise: both paths executed identical superstep inputs


def test_resume_ignores_incomplete_step(spark, tmp_path):
    el = _random_graph(n=30, m=80, seed=3)
    df = spark.createDataFrame(el, "src long, dst long, w double")
    d = str(tmp_path / "run")
    pagerank(spark, df, tol=0.0, max_iter=3, checkpoint_dir=d)
    # corrupt the newest step: delete its manifest (simulates a mid-write kill)
    os.remove(os.path.join(d, "step=3", "_MANIFEST.json"))
    ck = SuperstepCheckpointer(spark, d, _pr_params(df))
    assert ck.latest_step() == 2


def test_manifest_contents(spark, tmp_path):
    el = _random_graph(n=30, m=80, seed=5)
    df = spark.createDataFrame(el, "src long, dst long, w double")
    d = str(tmp_path / "run")
    pagerank(spark, df, tol=0.0, max_iter=2, checkpoint_dir=d)
    with open(os.path.join(d, "step=2", "_MANIFEST.json")) as f:
        m = json.load(f)
    assert m["step"] == 2
    assert m["lineage"]["parent_step"] == 1
    assert m["partitioner"]["num_partitions"] >= 1
    n_vertices = df.selectExpr("src AS v").union(df.selectExpr("dst AS v")).distinct().count()
    assert sum(p["rows"] for p in m["partition_metrics"].values()) == n_vertices
    assert all(p["bytes"] > 0 for p in m["partition_metrics"].values())


def test_resume_refuses_mismatched_params(spark, tmp_path):
    el = _random_graph(n=20, m=50, seed=9)
    df = spark.createDataFrame(el, "src long, dst long, w double")
    d = str(tmp_path / "run")
    pagerank(spark, df, tol=0.0, max_iter=2, checkpoint_dir=d, alpha=0.85)
    ck = SuperstepCheckpointer(spark, d, _pr_params(df, alpha=0.5))
    assert ck.latest_step() is None  # different params hash → no resumable step
    with pytest.raises(ValueError, match="refusing to resume"):
        pagerank(spark, df, tol=0.0, max_iter=4, checkpoint_dir=d, resume=True, alpha=0.5)


def test_resume_refuses_changed_input(spark, tmp_path):
    """ADVICE item: a resume against a *different edge table* must refuse —
    silently reusing norm_edges/steps from the old input would be wrong."""
    df1 = spark.createDataFrame(_random_graph(n=20, m=50, seed=9), "src long, dst long, w double")
    df2 = spark.createDataFrame(_random_graph(n=20, m=50, seed=10), "src long, dst long, w double")
    d = str(tmp_path / "run")
    pagerank(spark, df1, tol=0.0, max_iter=2, checkpoint_dir=d)
    with pytest.raises(ValueError, match="refusing to resume"):
        pagerank(spark, df2, tol=0.0, max_iter=4, checkpoint_dir=d, resume=True)


def test_fresh_run_clears_stale_steps(spark, tmp_path):
    """ADVICE item: a non-resume run must clear higher-numbered step dirs left
    by an earlier, longer run, so a later resume can't pick them up."""
    df = spark.createDataFrame(_random_graph(n=20, m=50, seed=9), "src long, dst long, w double")
    d = str(tmp_path / "run")
    pagerank(spark, df, tol=0.0, max_iter=6, checkpoint_dir=d)
    assert os.path.isdir(os.path.join(d, "step=6"))
    pagerank(spark, df, tol=0.0, max_iter=2, checkpoint_dir=d)  # fresh, shorter
    assert not os.path.exists(os.path.join(d, "step=6"))
    ck = SuperstepCheckpointer(spark, d, _pr_params(df))
    assert ck.latest_step() == 2


def test_fresh_run_preserves_user_files(spark, tmp_path):
    """A fresh run sweeps ONLY engine-owned state (step=K dirs + side/) —
    a run_dir the user also keeps other files in must never be swept."""
    df = spark.createDataFrame(_random_graph(n=20, m=50, seed=9), "src long, dst long, w double")
    d = str(tmp_path / "run")
    os.makedirs(d)
    with open(os.path.join(d, "results.csv"), "w") as f:
        f.write("keep me")
    pagerank(spark, df, tol=0.0, max_iter=2, checkpoint_dir=d)
    pagerank(spark, df, tol=0.0, max_iter=1, checkpoint_dir=d)  # fresh again: sweeps state
    with open(os.path.join(d, "results.csv")) as f:
        assert f.read() == "keep me"
    assert not os.path.exists(os.path.join(d, "step=2"))  # stale step swept
    assert os.path.isdir(os.path.join(d, "side"))  # side inputs live under side/


def test_resume_on_fresh_dir_stamps_run_manifest(spark, tmp_path):
    """ADVICE r2 (medium): the natural 'resume if possible' pattern — always
    passing resume=True — previously never wrote _RUN.json on the first run,
    leaving the input-fingerprint guard permanently inert for that dir. Now
    the first resume=True call against an empty dir stamps the manifest, so
    a later resume with a DIFFERENT edge table refuses instead of silently
    reusing the old input's side tables."""
    df1 = spark.createDataFrame(_random_graph(n=20, m=50, seed=9), "src long, dst long, w double")
    df2 = spark.createDataFrame(_random_graph(n=20, m=50, seed=10), "src long, dst long, w double")
    d = str(tmp_path / "run")
    pagerank(spark, df1, tol=0.0, max_iter=2, checkpoint_dir=d, resume=True)  # first run AS resume
    assert os.path.exists(os.path.join(d, "_RUN.json"))
    with pytest.raises(ValueError, match="refusing to resume"):
        pagerank(spark, df2, tol=0.0, max_iter=4, checkpoint_dir=d, resume=True)


def test_resume_refuses_unvalidatable_state(spark, tmp_path):
    """resume=True against a dir that has state but no _RUN.json must refuse:
    the state's input provenance cannot be validated."""
    df = spark.createDataFrame(_random_graph(n=20, m=50, seed=9), "src long, dst long, w double")
    d = str(tmp_path / "run")
    pagerank(spark, df, tol=0.0, max_iter=2, checkpoint_dir=d)
    os.remove(os.path.join(d, "_RUN.json"))  # simulate pre-manifest-era state
    with pytest.raises(ValueError, match="cannot be validated"):
        pagerank(spark, df, tol=0.0, max_iter=4, checkpoint_dir=d, resume=True)


def test_checkpointer_hadoop_scheme_path(spark, tmp_path):
    """Checkpoint/resume through an explicit Hadoop URI (file://...): all IO
    goes through the Hadoop FileSystem API, so an HDFS/S3 run_dir behaves the
    same as a driver-local path."""
    el = _random_graph(n=30, m=80, seed=21)
    df = spark.createDataFrame(el, "src long, dst long, w double")
    plain = _ranks(pagerank(spark, df, tol=0.0, max_iter=4, checkpoint_dir=str(tmp_path / "a")))
    uri = "file://" + str(tmp_path / "b")
    schemed = _ranks(pagerank(spark, df, tol=0.0, max_iter=4, checkpoint_dir=uri))
    assert plain == schemed
    ck = SuperstepCheckpointer(spark, uri, _pr_params(df))
    assert ck.latest_step() == 4
    m = ck.manifest(4)
    assert m["step"] == 4 and m["partitioner"]["num_partitions"] >= 1
    assert sum(p["rows"] for p in m["partition_metrics"].values()) > 0
    # resume through the URI: 4 more supersteps, still bitwise vs one 8-step run
    resumed = _ranks(pagerank(spark, df, tol=0.0, max_iter=8, checkpoint_dir=uri, resume=True))
    full = _ranks(pagerank(spark, df, tol=0.0, max_iter=8, checkpoint_dir=str(tmp_path / "c")))
    assert resumed == full


def test_checkpointed_equals_uncheckpointed(spark, tmp_path):
    el = _random_graph(n=40, m=120, seed=13)
    df = spark.createDataFrame(el, "src long, dst long, w double")
    want = numpy_pagerank(el, tol=0.0, max_iter=12)
    got = _ranks(pagerank(spark, df, tol=0.0, max_iter=12, checkpoint_dir=str(tmp_path / "r")))
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12


def _strip_chg(spark, run_dir, params, step, scratch):
    """Rewrite superstep ``step`` of ``run_dir`` as engines before the
    ``_chg`` witness column wrote it: the state's other columns only."""
    ck = SuperstepCheckpointer(spark, run_dir, params)
    ck.load(step).drop("_chg").write.parquet(str(scratch))
    ck.save(step, spark.read.parquet(str(scratch)))
    assert "_chg" not in ck.load(step).columns


def test_resume_from_state_without_chg_column(spark, tmp_path):
    """A checkpoint written before the loops emitted ``_chg`` still resumes:
    pagerank and cc read only [v, x] and [v, label] from the state. Ranks
    equal the uninterrupted run bitwise and cc labels are exact."""
    from graphulo_spark.algorithms import connected_components

    el = _random_graph(n=40, m=120, seed=11)
    df = spark.createDataFrame(el, "src long, dst long, w double")
    full = _ranks(pagerank(spark, df, tol=0.0, max_iter=8, checkpoint_dir=str(tmp_path / "full")))
    d = str(tmp_path / "pr")
    pagerank(spark, df, tol=0.0, max_iter=4, checkpoint_dir=d)
    _strip_chg(spark, d, _pr_params(df), 4, tmp_path / "pr_old")
    assert _ranks(pagerank(spark, df, tol=0.0, max_iter=8, checkpoint_dir=d, resume=True)) == full

    path = spark.createDataFrame([(i, i + 1, 1.0) for i in range(63)], "src long, dst long, w double")
    d = str(tmp_path / "cc")
    hist: list = []
    connected_components(spark, path, max_iter=2, checkpoint_dir=d, history=hist)
    assert hist[-1]["changed"] > 0  # stopped by the cap, not converged
    params = {"alg": "cc", "input_fp": input_fingerprint(path, "src", "dst")}
    _strip_chg(spark, d, params, 2, tmp_path / "cc_old")
    hist = []
    got = connected_components(spark, path, checkpoint_dir=d, resume=True, history=hist)
    assert {r["v"]: r["component"] for r in got.collect()} == {v: 0 for v in range(64)}
    assert hist[0]["step"] == 3 and hist[-1]["changed"] == 0


# params hashes recorded by the engine before the superstep harness existed,
# on the toy table below: a checkpoint written then must still resume now, so
# no loop may reshape its params dict
_TOY = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 2.0), (4, 5, 1.0)]
_PINNED_HASHES = {
    "pagerank": "79c0f98d3aeea36b",  # tol=0.0
    "pagerank_tol": "89d277931e10b5ab",  # default tol
    "cc": "c26140f4a8875eab",
    "lp": "55f48a393c08f481",
}


def test_params_hash_compatible_with_earlier_checkpoints(spark, tmp_path):
    from graphulo_spark.algorithms import connected_components, label_propagation

    df = spark.createDataFrame(_TOY, "src long, dst long, w double")
    runs = {
        "pagerank": lambda d: pagerank(spark, df, tol=0.0, max_iter=2, checkpoint_dir=d),
        "pagerank_tol": lambda d: pagerank(spark, df, checkpoint_dir=d),
        "cc": lambda d: connected_components(spark, df, checkpoint_dir=d),
        "lp": lambda d: label_propagation(spark, df, iters=2, checkpoint_dir=d),
    }
    for name, run in runs.items():
        d = str(tmp_path / name)
        run(d)
        with open(os.path.join(d, "_RUN.json")) as f:
            assert json.load(f)["params_hash"] == _PINNED_HASHES[name], name

