"""bench_extra.py runs against the current engine.

bench_extra.py reaches into engine internals (``triangles._oriented``, the
``*_setup`` functions, ``supersteps.resident``), so an engine change can break
it silently. Both modes run here in a subprocess with a session of their own
(each calls ``spark.stop()``) on the smallest test-data scale.
"""

from __future__ import annotations

import os
import subprocess
import sys

from test_pipeline import SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = ("pagerank_superstep_kernel", "lp_superstep_kernel", "cc_round_kernel", "edge_derivation",
         "pagerank_10iter", "connected_components", "label_propagation_5iter", "triangle_count",
         "transcript_edge_induction", "minhash_signatures", "minhash_lsh_dedup",
         "minhash_lsh_dedup_md5", "cosine_topk")


def _run(args: list[str]) -> subprocess.CompletedProcess:
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF, "SPARK_GRAFT_CPUS": "2"}
    return subprocess.run(
        [sys.executable, *args], cwd=REPO, env=env, capture_output=True, text=True, timeout=600
    )


def _tree(path: str) -> dict[str, float]:
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    }


def test_bench_extra_counts():
    out = _run(["bench_extra.py", "--counts"])
    assert out.returncode == 0, out.stderr[-3000:]
    assert '"canon_edges"' in out.stdout, out.stdout


def test_bench_extra_captures_every_plan(tmp_path):
    """Every headline plan is written to the given directory, and the
    committed captures under plans/r06/ are left alone."""
    committed = os.path.join(REPO, "plans", "r06")
    before = _tree(committed)
    out = _run(
        ["-c", f"import bench_extra; bench_extra.capture_plans('smoke', out_dir={str(tmp_path)!r})"]
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert sorted(os.listdir(tmp_path)) == sorted(f"{name}_smoke.txt" for name in PLANS)
    assert _tree(committed) == before
