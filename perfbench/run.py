#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload copurchase --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run starts its own Spark session
(``local[nproc]``, explicit driver heap, shuffle files in a private
directory under ``.perfbench/``), runs one cold pass of engine calls on the
workload's graph, checks every output against an independent oracle, and
prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) as the last stdout line. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.spans import Target  # noqa: E402
from perfbench.workloads import OPS  # noqa: E402

E2E = {"setup_s": "s", "pass_s": "s"}

ALGS = ("pagerank", "cc", "lp")
LOOP = ("setup_s", "jobs", "tasks", "supersteps", "superstep_p50_s", "superstep_p90_s",
        "other_s", "self_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
PER_LAYER = {
    **{f"{op}.wall_s": "s" for op in OPS},
    "session.get_spark_s": "s",
    "entry.copurchase_edges_s": "s",
    "transcripts.generate_s": "s",
    "transcripts.induce_s": "s",
    "linalg.symmetrize_s": "s",
    "edges.jobs": "count",
    "edges.shuffle_write_mb": "MB",
    "linalg.hub_keys_s": "s",
    "linalg.hub_count": "count",
    **{f"{a}.{m}": ("count" if m in ("jobs", "tasks", "supersteps") else "MB" if m.endswith("_mb") else "s")
       for a in ALGS for m in LOOP},
    "pagerank.resume_s": "s",
    "materialize.calls": "count",
    "materialize.total_s": "s",
    "triangles.jobs": "count",
    "triangles.tasks": "count",
    "triangles.shuffle_write_mb": "MB",
    "checkpoint.save_calls": "count",
    "checkpoint.save_p50_s": "s",
    "checkpoint.save_total_s": "s",
    "checkpoint.side_input_s": "s",
    "checkpoint.load_s": "s",
    "checkpoint.bytes_written_mb": "MB",
    "driver.cpu_s": "s",
    "driver.jit_s": "s",
    "driver.gc_s": "s",
    "driver.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}

TARGETS = [
    Target("materialize", "graphulo_spark.materialize", "materialize"),
    Target("checkpoint.save", "graphulo_spark.checkpoint", "SuperstepCheckpointer.save"),
    Target("checkpoint.load", "graphulo_spark.checkpoint", "SuperstepCheckpointer.load"),
    Target("checkpoint.side_input", "graphulo_spark.checkpoint", "SuperstepCheckpointer.side_input"),
    Target("checkpoint.fingerprint", "graphulo_spark.checkpoint", "input_fingerprint"),
    Target("linalg.hub_keys", "graphulo_spark.linalg.spmv", "hub_keys", lambda keys: {"n": len(keys)}),
]
# per-layer metric prefix -> wrapped entry points it is computed from
DEPENDS = {
    "materialize.": ("materialize",),
    "checkpoint.save_": ("checkpoint.save",),
    "checkpoint.side_input_s": ("checkpoint.side_input",),
    "checkpoint.load_s": ("checkpoint.load",),
    "linalg.hub_": ("linalg.hub_keys",),
    **{f"{a}.{m}": ("materialize", "checkpoint.save") for a in ALGS
       for m in ("setup_s", "supersteps", "superstep_p50_s", "superstep_p90_s", "other_s")},
    **{f"{a}.self_s": tuple(t.span for t in TARGETS) for a in ALGS},
}
MISSING = -1.0  # value of a per-layer metric whose entry point is gone


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0 for no samples."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def parquet_mb(path: str) -> float:
    """Bytes of parquet data under ``path`` (manifests carry timestamps)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total / 1e6


def per_layer(tracer, patcher, wl, p, info, driver) -> tuple[dict[str, float], dict[str, str]]:
    """Per-layer figures of one traced pass, from the spans and job groups."""
    spans = tracer.spans
    named = lambda name: [s for s in spans if s.name == name]  # noqa: E731
    total = lambda name: sum(s.dur for s in named(name))  # noqa: E731
    ops = {s.name[3:]: s for s in spans if s.name.startswith("op:")}
    m: dict[str, float] = {
        **{f"{op}.wall_s": p.ops[op].seconds for op in OPS},
        "session.get_spark_s": info["get_spark_s"],
        "entry.copurchase_edges_s": total("entry.copurchase_edges"),
        "transcripts.generate_s": total("transcripts.generate"),
        "transcripts.induce_s": total("transcripts.induce"),
        "linalg.symmetrize_s": total("linalg.symmetrize"),
        "linalg.hub_keys_s": total("linalg.hub_keys"),
        "linalg.hub_count": max([s.attrs.get("n", 0) for s in named("linalg.hub_keys")], default=0),
        "pagerank.resume_s": (p.resume_window[1] - p.resume_window[0]) if p.resume_window else 0.0,
        "materialize.calls": len(named("materialize")),
        "materialize.total_s": total("materialize"),
        "checkpoint.save_calls": len(named("checkpoint.save")),
        "checkpoint.save_p50_s": quantile([s.dur for s in named("checkpoint.save")], 0.5),
        "checkpoint.save_total_s": total("checkpoint.save"),
        "checkpoint.side_input_s": total("checkpoint.side_input"),
        "checkpoint.load_s": total("checkpoint.load"),
        "checkpoint.bytes_written_mb": parquet_mb(wl.run.sub("ckpt")),
        **{f"driver.{k}": v for k, v in driver.items()},
    }
    for name in ("edges", "triangles"):
        c = wl.group_counts.get(name, {})
        m[f"{name}.jobs"] = c.get("jobs", 0)
        m[f"{name}.shuffle_write_mb"] = c.get("shuffle_write_mb", 0.0)
    m["triangles.tasks"] = wl.group_counts.get("triangles", {}).get("tasks", 0)
    for alg in ALGS:
        op = ops.get(alg)
        c = wl.group_counts.get(alg, {})
        for k in ("jobs", "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            m[f"{alg}.{k}"] = c.get(k, 0)
        if op is None:
            for k in ("setup_s", "supersteps", "superstep_p50_s", "superstep_p90_s", "other_s", "self_s"):
                m[f"{alg}.{k}"] = 0.0
            continue
        # loop state is materialized once before the first superstep and
        # once per superstep; a resumed call loads state instead of step 0
        states = tracer.descendants(op, {"materialize", "checkpoint.save"})
        setup = states[0].end - op.start if states else op.dur
        steps = [s.dur for s in states[1:]]
        m[f"{alg}.setup_s"] = setup
        m[f"{alg}.supersteps"] = len(steps)
        m[f"{alg}.superstep_p50_s"] = quantile(steps, 0.5)
        m[f"{alg}.superstep_p90_s"] = quantile(steps, 0.9)
        m[f"{alg}.other_s"] = op.dur - setup - sum(steps)
        m[f"{alg}.self_s"] = tracer.self_time(op)
    m["trace.overhead_pct"] = 100.0 * tracer.bookkeeping_s / max(p.seconds, 1e-9)

    missing = {}
    for metric in PER_LAYER:
        deps = [d for prefix, ds in DEPENDS.items() if metric.startswith(prefix) for d in ds]
        gone = sorted({d for d in deps if d in patcher.missing})
        if gone:
            missing[metric] = "; ".join(patcher.missing[d] for d in gone)
    for metric in missing:
        m[metric] = MISSING
    return m, missing


def measure(spark, info, args, golden) -> tuple[dict, dict]:
    from perfbench import hygiene
    from perfbench.spans import JobCounters, Patcher, Tracer
    from perfbench.workloads import WORKLOADS

    tracer = patcher = counters = None
    if args.trace:
        tracer = Tracer()
        counters = JobCounters(spark, tracer)
    wl = WORKLOADS[args.workload](spark, args.run, args.size, args.seed, tracer, counters)
    wl.prepare()
    if tracer:
        import graphulo_spark.algorithms  # noqa: F401  (load every module a pass uses)
        import graphulo_spark.entry  # noqa: F401
        import graphulo_spark.transcripts  # noqa: F401

        patcher = Patcher(tracer)
        patcher.install(TARGETS)
    before = hygiene.jvm_counters(spark, info["jvm_pid"])
    try:
        p = wl.run_pass()
    finally:
        if patcher:
            patcher.restore()
    after = hygiene.jvm_counters(spark, info["jvm_pid"])
    driver = {k: after[k] - before[k] for k in after}
    driver["peak_rss_mb"] = hygiene.vm_hwm_mb(info["jvm_pid"]) + hygiene.vm_hwm_mb()
    wl.tracer, wl.counters = None, None
    try:
        wl.check(p, golden, bitwise=bool(args.trace))
    except Exception as exc:  # a check that cannot run fails the pass, not the run
        traceback.print_exc()
        for op in p.ops.values():
            op.problems.append(f"check raised {type(exc).__name__}: {exc}"[:500])

    detail = {
        "workload": args.workload, "size": args.size, "seed": args.seed, "trace": args.trace,
        "hygiene": {k: v for k, v in info.items() if k != "get_spark_s"},
        "ops": [{"op": op.name, "seconds": op.seconds, "error": op.error, "problems": op.problems}
                for op in p.ops.values()],
        "graph": p.graph,
        "driver": driver,
        "attempted": len(p.ops),
        "failed": sum(op.failed for op in p.ops.values()),
    }
    if args.trace:
        metrics, missing = per_layer(tracer, patcher, wl, p, info, driver)
        detail.update(missing=missing, wrapped=patcher.sites, group_counts=wl.group_counts,
                      spans=tracer.dump())
        units = PER_LAYER
    else:
        metrics = {"setup_s": info["setup_s"], "pass_s": p.seconds}
        units = E2E
    result = {
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, detail


def parse(argv: list[str] | None) -> argparse.Namespace:
    from perfbench.workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted and ignored: a run is exactly one cold pass, which always runs whole")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full", help="smoke: tiny inputs for tests")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    import graphulo_spark  # noqa: F401  (no engine, no benchmark: fail before anything starts)

    from perfbench import hygiene
    from perfbench.workloads import GOLDEN

    args = parse(argv)
    stale = hygiene.stale_benchmark_jvms()
    if stale:
        print(f"perfbench: REFUSING TO START: Spark JVM(s) {stale} from an earlier benchmark run "
              "are still alive and would skew every figure; stop them first.", file=sys.stderr)
        return 3
    golden = GOLDEN.get((args.workload, args.size, args.seed), {})

    with hygiene.RunDir(ROOT) as run:
        args.run = run
        spark, info = hygiene.start_spark(run)
        info["other_spark_jvms"] = [pid for pid, _ in hygiene.spark_jvms() if pid != info["jvm_pid"]]
        try:
            result, detail = measure(spark, info, args, golden)
        finally:
            hygiene.stop_spark(spark)
    out = os.path.join(run.results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"perfbench_detail": {k: v for k, v in detail.items() if k != "spans"}}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
