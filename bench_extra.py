#!/usr/bin/env python
"""Extra measurement harness for optimization rounds (bench.py is frozen).

Modes:
  --plans [out_dir]   capture .explain("formatted") for every headline query
                      into plans/r06/<name>_{label}.txt
  --isolate           time each headline query with the noop sink (guide §1.4)
  --counts            print graph shape facts (|V|, |E|, wedges) for sizing

Uses the same session / env contract as bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _spark():
    from graphulo_spark.session import get_spark

    return get_spark(app="graphulo-bench-extra", cores=CPUS)


def _headline_frames(spark, sf_dir=SF_DIR):
    """(name -> lazily-built DataFrame) for every plan-capturable headline
    query. Scalar-returning queries (triangle_count) expose their dominant
    internal DataFrame instead."""
    from graphulo_spark.algorithms import connected_components, label_propagation, pagerank
    from graphulo_spark.algorithms import triangles
    from graphulo_spark.algorithms.cc import cc_setup
    from graphulo_spark.algorithms.label_prop import label_prop_setup
    from graphulo_spark.algorithms.pagerank import pagerank_setup
    from graphulo_spark.entry import copurchase_edges
    from graphulo_spark.linalg import symmetrize
    from graphulo_spark.pipeline.dedup import minhash_lsh_pairs, minhash_signatures
    from graphulo_spark.pipeline.similarity import cosine_topk
    from graphulo_spark.transcripts import generate_transcripts, induce_edges

    edges = symmetrize(copurchase_edges(spark, sf_dir)).localCheckpoint()

    def tri_plan():
        return triangles.triangle_closers(edges, orientation="degree")

    def superstep(setup):
        """One superstep plan from the algorithm's own setup and ``step``,
        over its materialized start state (the algorithm itself materializes
        eagerly, so its end plan is just a checkpoint scan)."""
        from graphulo_spark.materialize import materialize

        init, step = setup(spark, edges)
        return step(materialize(init))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return {
        "pagerank_superstep_kernel": lambda: superstep(pagerank_setup),
        "lp_superstep_kernel": lambda: superstep(label_prop_setup),
        "cc_round_kernel": lambda: superstep(cc_setup),
        "edge_derivation": lambda: symmetrize(copurchase_edges(spark, sf_dir)),
        "pagerank_10iter": lambda: pagerank(spark, edges, tol=0.0, max_iter=10),
        "connected_components": lambda: connected_components(spark, edges),
        "label_propagation_5iter": lambda: label_propagation(spark, edges, iters=5),
        "triangle_count": tri_plan,
        "transcript_edge_induction": lambda: induce_edges(generate_transcripts(spark, 20_000)),
        "minhash_signatures": lambda: minhash_signatures(docs, k=8),
        "minhash_lsh_dedup": lambda: minhash_lsh_pairs(docs, k=8, bands=4, hash_family="xxhash64"),
        "minhash_lsh_dedup_md5": lambda: minhash_lsh_pairs(docs, k=8, bands=4),
        "cosine_topk": lambda: cosine_topk(emb, emb.orderBy("vec_id").limit(10), k=10),
    }


def capture_plans(label: str, out_dir: str = os.path.join(REPO, "plans", "r06")) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    for name, build in _headline_frames(spark).items():
        df = build()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{label}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({txt.count('Exchange')} Exchange mentions)")
    spark.stop()


def isolate(reps: int = 3) -> None:
    """noop-sink isolation per query (guide §1.4), median of `reps`."""
    spark = _spark()
    frames = _headline_frames(spark)
    out = {}
    for name, build in frames.items():
        spark.sparkContext.setJobDescription(f"isolate: {name}")
        build().write.format("noop").mode("overwrite").save()  # warm
        runs = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        out[name] = {"median": sorted(runs)[len(runs) // 2], "runs": runs}
        print(json.dumps({name: out[name]}))
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"isolated": out}))
    spark.stop()


def counts() -> None:
    from pyspark.sql import functions as F

    from graphulo_spark.algorithms import triangles
    from graphulo_spark.entry import copurchase_edges
    from graphulo_spark.linalg import symmetrize

    spark = _spark()
    edges = symmetrize(copurchase_edges(spark, SF_DIR)).localCheckpoint()
    n_edges = edges.count()
    n_v = edges.select("src").distinct().count()
    e = triangles._oriented(edges, "degree").cache()
    n_canon = e.count()
    n_wedges = (
        e.groupBy("src").agg(F.count("*").alias("d")).agg(F.sum(F.col("d") * F.col("d"))).collect()[0][0]
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    print(
        json.dumps(
            {
                "sym_edges": n_edges,
                "vertices": n_v,
                "canon_edges": n_canon,
                "wedge_upper_bound_sum_dout2": int(n_wedges),
                "docs": docs.count(),
            }
        )
    )
    spark.stop()


def run_scaling_gated() -> dict:
    """Gated N→4N scaling window (VERDICT r5 #7; lives here because bench.py
    is frozen for measurement): first probe the box's own shuffle-free
    codegen ceiling at the same core pair — if the hardware cannot scale a
    zero-shuffle job at ≥ the gate (default 0.92), an engine window would
    measure the box, not the engine, so REFUSE instead of publishing a
    dirty number; on a clean probe run the engine window and bracket it
    with a post-probe so the window's cleanliness is recorded."""
    import bench

    gate = float(os.environ.get("SPARK_GRAFT_SCALING_GATE", "0.92"))
    n = int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))
    # brackets: codegen (compute ceiling — the GATE) and cachedscan (memory-
    # bandwidth ceiling — recorded, not gated: the resident edge layout is
    # bandwidth-bound by construction, so its honest same-window control is
    # the cachedscan pair, exactly the r5 certification's methodology; a
    # clean codegen probe alone cannot see memory-bus ambient, which the
    # first r6 clean-gate window demonstrated: brackets 0.979/0.948 around
    # an engine draw of 0.370 whose 8-core reps spread 1.8x)
    os.environ["SPARK_GRAFT_CEILING_KINDS"] = "codegen,cachedscan"
    pre = bench.run_ceiling(n)["pairs"]
    if pre["codegen"]["efficiency"] < gate:
        return {
            "metric": "scaling_efficiency_Nto4N",
            "value": None,
            "gated": True,
            "reason": f"codegen ceiling {pre['codegen']['efficiency']} < gate {gate}: "
                      "box dirty, window refused",
            "pre_bracket": {k: v["efficiency"] for k, v in pre.items()},
        }
    out = bench.run_scaling(n)
    post = bench.run_ceiling(n)["pairs"]
    out.update({
        "gated": False,
        "pre_bracket": {k: v["efficiency"] for k, v in pre.items()},
        "post_bracket": {k: v["efficiency"] for k, v in post.items()},
        "bracket_clean": post["codegen"]["efficiency"] >= gate,
    })
    return out


if __name__ == "__main__":
    if "--scaling-gated" in sys.argv:
        print(json.dumps(run_scaling_gated()))
    elif "--plans" in sys.argv:
        i = sys.argv.index("--plans")
        label = sys.argv[i + 1] if len(sys.argv) > i + 1 else "before"
        capture_plans(label)
    elif "--isolate" in sys.argv:
        isolate()
    elif "--counts" in sys.argv:
        counts()
    else:
        print(__doc__)
