#!/usr/bin/env python
"""Benchmark harness.

Default mode (what the driver runs): headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32);
prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1, ...}

--scaling mode (run manually, results recorded in BENCH/BASELINE.md):
runs the PageRank-superstep job at two parallelism levels (local[N] and
local[4N], same input) in SEPARATE spark-submit subprocesses (a JVM can't
change its core count), reports throughput at both plus scaling efficiency —
the sandbox stand-in for the north rule's N → 4N executor criterion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _sf_label(path: str) -> float:
    try:
        return float(path.rstrip("/").rsplit("sf", 1)[1])
    except (IndexError, ValueError):
        return -1.0


# 5 reps (was 3): this VM's ambient interference shows up as single-rep
# spikes of up to 6-8x (host-level, not engine — an idle-box vmstat shows no
# steal, yet one rep in ~10 stalls); median-of-5 rejects two spiked reps
# where median-of-3 tolerates only one. Per-query min is also published as
# the engine's demonstrated-capable time.
BENCH_REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))


def run_headline(cpus: str | int = CPUS, sf_dir: str = SF_DIR) -> dict:
    from graphulo_spark.algorithms import connected_components, label_propagation, pagerank
    from graphulo_spark.algorithms.triangles import triangle_count
    from graphulo_spark.entry import copurchase_edges, transitions_edges
    from graphulo_spark.linalg import symmetrize
    from graphulo_spark.pipeline.dedup import minhash_lsh_pairs
    from graphulo_spark.pipeline.similarity import cosine_topk
    from graphulo_spark.session import get_spark
    from graphulo_spark.transcripts import generate_transcripts, induce_edges

    spark = get_spark(app="graphulo-bench", cores=cpus)
    timings: dict[str, float] = {}
    best: dict[str, float] = {}
    rep_detail: dict[str, list[float]] = {}
    meta: dict[str, float] = {}

    def timed(name, fn):
        # One warm-up (absorbs the cold parquet read / JIT — single-shot cold
        # timing made round-over-round deltas meaningless, see VERDICT r2
        # "What's wrong" #3), then median of BENCH_REPS timed reps. The
        # catalog cache is cleared before every run so each rep rebuilds its
        # own per-call caches — that build is part of the query's real cost;
        # only OS-page-cache warmth carries over, which is the intent.
        spark.catalog.clearCache()
        out = fn()
        runs = []
        for _ in range(BENCH_REPS):
            spark.catalog.clearCache()
            t0 = time.time()
            out = fn()
            runs.append(time.time() - t0)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)
        best[name] = round(min(runs), 3)
        rep_detail[name] = [round(r, 3) for r in runs]
        return out

    # edge derivation (the scan+shuffle workload) — timed via count() so the
    # reps pin nothing; the ONE localCheckpoint copy the rest of the suite
    # reads is built after (repeated localCheckpoints would each pin a full
    # edge-table copy in executor storage for the rest of the run)
    timed("edge_derivation", lambda: symmetrize(copurchase_edges(spark, sf_dir)).count())
    edges = symmetrize(copurchase_edges(spark, sf_dir)).localCheckpoint()
    n_edges = edges.count()
    meta["n_edges"] = n_edges

    # PageRank: 10 supersteps (fixed, so runs are comparable across rounds).
    # pagerank has one plan, so it is timed once; pagerank_10iter_plain and
    # the *_auto/*_plain rates repeat that measurement so the headline JSON
    # keeps its keys (and its summed total stays comparable across rounds).
    timed(
        "pagerank_10iter",
        lambda: pagerank(spark, edges, tol=0.0, max_iter=10).count(),
    )
    for rows in (timings, best, rep_detail):
        rows["pagerank_10iter_plain"] = rows["pagerank_10iter"]
    pr_s = timings["pagerank_10iter"]
    meta["pagerank_supersteps_per_sec"] = round(10.0 / pr_s, 4)
    meta["pagerank_edges_per_sec"] = round(10 * n_edges / pr_s, 1)
    meta["pagerank_edges_per_sec_auto"] = meta["pagerank_edges_per_sec"]
    meta["pagerank_edges_per_sec_plain"] = meta["pagerank_edges_per_sec"]

    timed("connected_components", lambda: connected_components(spark, edges).count())
    # 5 fixed supersteps (like pagerank_10iter: fixed so rounds are
    # comparable) — the fourth algorithm the north rule names alongside
    # PageRank / CC / triangles; edges are already symmetric, so the
    # internal symmetrize only doubles weights, which majority-vote ignores.
    timed(
        "label_propagation_5iter",
        lambda: label_propagation(spark, edges, iters=5).count(),
    )
    timed("triangle_count", lambda: triangle_count(edges))
    timed(
        "transcript_edge_induction",
        lambda: induce_edges(generate_transcripts(spark, 20_000)).count(),
    )
    # production hash family (xxhash64): the md5 family exists for DuckDB
    # oracle portability; xxhash64 measures ~20% faster end-to-end (the
    # explode+shuffle dominates, not the hash kernel). The driver correctness
    # gate checks the md5 path, the bench measures both; same banded-LSH plan.
    timed(
        "minhash_lsh_dedup",
        lambda: minhash_lsh_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            k=8, bands=4, hash_family="xxhash64",
        ).count(),
    )
    timed(
        "minhash_lsh_dedup_md5",
        lambda: minhash_lsh_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), k=8, bands=4
        ).count(),
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed("cosine_topk", lambda: cosine_topk(emb, emb.orderBy("vec_id").limit(10), k=10).count())

    # time-to-convergence at tol=1e-6 (the BASELINE metric's own phrasing) —
    # single-shot informational metric, not a timed() rep query: it runs
    # O(tens) of supersteps and would dominate the suite at 5 reps.
    spark.catalog.clearCache()
    hist: list = []
    t0 = time.time()
    pagerank(spark, edges, tol=1e-6, max_iter=200, history=hist).count()
    meta["pagerank_converge_1e6_seconds"] = round(time.time() - t0, 3)
    meta["pagerank_converge_1e6_supersteps"] = len(hist)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_label(sf_dir),
        "cpus": str(cpus),
        "timing_protocol": f"warm-median-of-{BENCH_REPS}",
        "best_seconds": best,
        "rep_seconds": rep_detail,
        **meta,
    }
    spark.stop()
    return result


def _scaling_child(cpus: str, sf_dir: str) -> dict:
    """Run the PageRank superstep job in a fresh subprocess at `cpus` cores.
    Heap is per-core proportional (4g/core): a 4N-executor cluster brings 4x
    the memory of an N-executor one, so the local[] stand-in must too."""
    code = (
        "import json,sys; sys.path.insert(0, %r);"
        "from bench import pagerank_job; print('RESULT:'+json.dumps(pagerank_job(%r, %r)))"
        % (REPO, cpus, sf_dir)
    )
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{4 * int(cpus)}g"
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env, timeout=3600
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT:"):
            return json.loads(line[len("RESULT:"):])
    raise RuntimeError(f"scaling child failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def pagerank_job(cpus: str, sf_dir: str, iters: int = 10) -> dict:
    """The measured scaling job: PageRank supersteps on a transcript-derived
    link graph (the north-rule input shape: deterministic synthetic
    transcripts → edge induction → symmetrized edge table). Input is a pure
    function of SPARK_GRAFT_SCALING_CONVS (default 1M conversations ≈ 21M
    turns ≈ 12M sym edges) — identical at both parallelism levels.
    Returns wall time + throughput (edge-traversals/sec over all supersteps)."""
    from graphulo_spark.algorithms import pagerank
    from graphulo_spark.linalg import symmetrize
    from graphulo_spark.session import get_spark
    from graphulo_spark.transcripts import generate_transcripts, induce_edges

    n_convs = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "3000000"))
    spark = get_spark(app=f"graphulo-scaling-{cpus}", cores=cpus)
    t = generate_transcripts(spark, n_convs)
    edges = symmetrize(induce_edges(t)).localCheckpoint()
    n_edges = edges.count()
    # warm-up superstep (JIT/codegen), then measured run
    pagerank(spark, edges, tol=0.0, max_iter=1).count()
    t0 = time.time()
    pagerank(spark, edges, tol=0.0, max_iter=iters).count()
    wall = time.time() - t0
    spark.stop()
    return {
        "cpus": cpus,
        "n_convs": n_convs,
        "n_edges": n_edges,
        "iters": iters,
        # pagerank's one plan, under the names earlier scaling results used
        "edge_layout": "resident",
        "strategy": "plain",
        "wall_s": round(wall, 3),
        "throughput_edges_per_s": round(iters * n_edges / wall, 1),
    }


def run_scaling(n: int | None = None, sf_dir: str = SF_DIR) -> dict:
    """N vs 4N cores on identical input. Default N=2 (→ 2 vs 8 cores): the
    sandbox VM's own multi-core ceiling, measured with a shuffle-free pure
    codegen job, is ~0.59 efficiency for 8→32 cores but ~0.89 for 2→8 — so
    2→8 is the pair where the *engine's* scaling is observable rather than
    the box's memory-subsystem saturation. Both pairs + the ceiling are
    recorded in BENCH/BASELINE.md."""
    n = n or int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))
    reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "3"))
    los, his = [], []
    for _ in range(reps):  # interleaved to decorrelate from ambient noise
        los.append(_scaling_child(str(n), sf_dir))
        his.append(_scaling_child(str(4 * n), sf_dir))
    med = lambda rs: sorted(rs, key=lambda r: r["throughput_edges_per_s"])[len(rs) // 2]
    lo, hi = med(los), med(his)
    eff = (hi["throughput_edges_per_s"] / lo["throughput_edges_per_s"]) / 4.0
    return {
        "metric": "scaling_efficiency_Nto4N",
        "value": round(eff, 4),
        "unit": "ratio",
        "low": lo,
        "high": hi,
        "reps": reps,
        "all_low_tput": [r["throughput_edges_per_s"] for r in los],
        "all_high_tput": [r["throughput_edges_per_s"] for r in his],
        "sf": _sf_label(sf_dir),
    }


def _ceiling_child(cpus: str, kind: str) -> dict:
    """Hardware-ceiling probes: 'codegen' = shuffle-free whole-stage-codegen
    compute; 'shuffle' = plain groupBy-sum over hashed keys (the SpMV
    aggregate shape, minus the engine). Both parallelize perfectly in
    principle — what they lose on this box is the box, not the engine."""
    code = (
        "import json,sys; sys.path.insert(0, %r);"
        "from bench import ceiling_job; print('RESULT:'+json.dumps(ceiling_job(%r, %r)))"
        % (REPO, cpus, kind)
    )
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{4 * int(cpus)}g"
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, env=env, timeout=1800)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT:"):
            return json.loads(line[len("RESULT:"):])
    raise RuntimeError(f"ceiling child failed:\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}")


def ceiling_job(cpus: str, kind: str) -> dict:
    from pyspark.sql import functions as F

    from graphulo_spark.session import get_spark

    spark = get_spark(app=f"ceiling-{kind}-{cpus}", cores=cpus)

    if kind == "cachedscan":
        # memory-bandwidth probe: repeatedly aggregate a cached columnar table
        # (the resident-edge-layout superstep's dominant access pattern —
        # zero shuffle, minimal CPU per byte)
        n = 150_000_000
        cached = spark.range(0, n, 1, int(cpus) * 4).select(
            (F.col("id") % 997).alias("src"),
            ((F.col("id") * 7) % 997).alias("dst"),
            (F.col("id") % 97).cast("double").alias("w"),
        ).cache()
        cached.count()
        def scan(salt):
            return cached.agg(F.sum(F.col("w") * ((F.col("src") + salt) % 13))).collect()
        scan(5)  # warm
        t0 = time.time()
        for s in (7, 11, 13):
            scan(s)
        wall = time.time() - t0
        spark.stop()
        return {"cpus": cpus, "kind": kind, "wall_s": round(wall, 3), "rows_per_s": round(3 * n / wall, 1)}

    def make(salt: int):
        # distinct constant per run: Spark 4 can reuse results of an
        # identical repeated query, so warm and timed plans must differ
        if kind == "codegen":
            df = spark.range(0, 3_000_000_000, 1, int(cpus) * 4)
            return df.select(F.xxhash64((F.col("id") * 31 + salt)).alias("h")).agg(
                F.sum(F.pmod(F.col("h"), F.lit(1000)))
            ), 3_000_000_000
        df = spark.range(0, 100_000_000, 1, int(cpus) * 4)
        return (
            df.select(
                F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(5_000_000)).alias("k"),
                (F.col("id") % 97).cast("double").alias("x"),
            )
            .groupBy("k")
            .agg(F.sum("x"))
        ), 100_000_000

    warm, _ = make(7)
    warm.count() if kind == "shuffle" else warm.collect()
    q, rows = make(13)
    t0 = time.time()
    q.count() if kind == "shuffle" else q.collect()
    wall = time.time() - t0
    spark.stop()
    return {"cpus": cpus, "kind": kind, "wall_s": round(wall, 3), "rows_per_s": round(rows / wall, 1)}


def run_ceiling(n: int | None = None) -> dict:
    n = n or int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))
    kinds = os.environ.get("SPARK_GRAFT_CEILING_KINDS", "codegen,shuffle,cachedscan").split(",")
    out = {}
    for kind in kinds:
        lo = _ceiling_child(str(n), kind)
        hi = _ceiling_child(str(4 * n), kind)
        out[kind] = {
            "low": lo,
            "high": hi,
            "efficiency": round((hi["rows_per_s"] / lo["rows_per_s"]) / 4.0, 4),
        }
    return {"metric": "hardware_ceiling_Nto4N", "pairs": out, "n": n}


DOC_BEGIN = "<!-- AUTOGEN:BENCH_TABLE BEGIN (python bench.py --doc; do not hand-edit) -->"
DOC_END = "<!-- AUTOGEN:BENCH_TABLE END -->"


def render_doc_table(live: tuple[str, dict] | None = None) -> str:
    """Markdown table generated FROM the driver's BENCH_r{N}.json artifacts,
    plus (optionally) the live results of the run that is writing the doc —
    the doc can no longer disagree with the measured numbers (VERDICT r2,
    'What's wrong' #1) and can no longer trail the current round (VERDICT r4
    #2: three rounds of the bench→doc→snapshot ordering race, settled by
    making every headline run refresh the table itself)."""
    import glob

    rounds = []
    for p in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))):
        with open(p) as f:
            d = json.load(f)
        # the driver wraps the bench JSON line under "parsed"
        d = d.get("parsed", d) or {}
        rounds.append((os.path.basename(p)[len("BENCH_"):-len(".json")], d))
    if live is not None:
        rounds.append(live)
    if not rounds:
        return "(no BENCH_r*.json artifacts found)"
    keys: list[str] = []
    for _, d in rounds:
        for k in d.get("queries", {}):
            if k not in keys:
                keys.append(k)
    lines = [
        "| query (sec) | " + " | ".join(name for name, _ in rounds) + " |",
        "|---" * (len(rounds) + 1) + "|",
    ]
    for k in keys:
        cells = [
            "—" if (v := d.get("queries", {}).get(k)) is None else f"{v:g}" for _, d in rounds
        ]
        lines.append(f"| {k} | " + " | ".join(cells) + " |")
    lines.append(
        "| **suite total** | " + " | ".join(f"**{d.get('value')}**" for _, d in rounds) + " |"
    )
    lines.append(
        "| timing protocol | "
        + " | ".join(str(d.get("timing_protocol", "single-shot cold")) for _, d in rounds)
        + " |"
    )
    lines.append(
        "| pagerank edges/s (best plan) | "
        + " | ".join(
            "—" if (v := d.get("pagerank_edges_per_sec")) is None else f"{v:.3g}"
            for _, d in rounds
        )
        + " |"
    )
    return "\n".join(lines)


def update_doc(live: tuple[str, dict] | None = None) -> None:
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(path) as f:
        text = f.read()
    block = DOC_BEGIN + "\n" + render_doc_table(live) + "\n" + DOC_END
    i, j = text.index(DOC_BEGIN), text.index(DOC_END) + len(DOC_END)
    with open(path, "w") as f:
        f.write(text[:i] + block + text[j:])


def _next_round_label() -> str:
    """Predicted label of the BENCH_r{N}.json the driver will write for the
    run in progress: one past the largest existing round artifact."""
    import glob
    import re

    nums = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return f"r{(max(nums) + 1 if nums else 1):02d}*"


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling()))
    elif "--ceiling" in sys.argv:
        print(json.dumps(run_ceiling()))
    elif "--doc" in sys.argv:
        update_doc()
        print("BENCH/BASELINE.md table regenerated from BENCH_r*.json")
    else:
        result = run_headline()
        print(json.dumps(result))
        # refresh the autogen table with THIS run appended (column "rNN*" —
        # the artifact the driver is about to record), so the doc is current
        # at snapshot time regardless of the driver's bench→snapshot ordering
        try:
            update_doc(live=(_next_round_label(), result))
        except Exception as exc:  # the headline numbers must still print
            print(f"(doc refresh skipped: {exc})", file=sys.stderr)
