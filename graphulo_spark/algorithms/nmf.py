"""Non-negative matrix factorization A ≈ W·H over an edge table.

Reference: Graphulo NMF (Graphulo.java:3710-3819, step nmfStep:3888-3968)
runs, per iteration, H = onlyPos((WᵀW)⁻¹ (WᵀA)) and symmetrically for W,
with the k×k inverse computed *inside an Accumulo compaction*
(skvi/InverseMatrixIterator.java:23-97) and topic capping via
TopColPerRowIterator. NMF_Client (Graphulo.java:4013-4156) is the in-memory
mirror used as the test oracle — same role as tests/test_nmf.py's numpy
oracle here.

Spark restatement: W and H are tall-skinny DataFrames [id, f0..f{k-1}].
- WᵀW is k×k → computed with one agg over k² column expressions, collected,
  inverted with numpy on the driver (k ≤ ~32; the reference does the same
  inverse, just server-side).
- WᵀA is k×|cols| → join A with W on the row dimension + k sum-aggregates —
  a single shuffle, the same TableMult shape as every other kernel here.
- onlyPos == greatest(x, 0) columns (reference clamps negatives to zero).
Convergence: reconstruction error on a fixed sample, or hdiff-style factor
change ratio (Graphulo.java:3822-3843) — here plain squared-error delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphulo_spark.materialize import materialize


def _factor_cols(k: int) -> list[str]:
    return [f"f{i}" for i in range(k)]


def _init_factor(df: DataFrame, id_col: str, k: int, seed: int, family: str = "xxhash") -> DataFrame:
    """Deterministic pseudo-random nonneg init (RandomTopicApply analog,
    apply/RandomTopicApply.java:26-88 — but reproducible from the id hash).
    family='md5' uses an engine-portable hash (md5 hex prefix → BIGINT), so a
    SQL oracle can reproduce the whole factorization bit-for-bit."""
    if family == "md5":
        def _h(i):
            hx = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed + i}")))
            return F.conv(F.substring(hx, 1, 15), 16, 10).cast("bigint")
        cols = [((F.pmod(_h(i), F.lit(1000)) + 1) / 1000.0).alias(f"f{i}") for i in range(k)]
    else:
        cols = [
            (
                (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + i)), F.lit(1000)) + 1) / 1000.0
            ).alias(f"f{i}")
            for i in range(k)
        ]
    return df.select(F.col(id_col).alias("id"), *cols)


def _gram(f: DataFrame, k: int) -> "object":
    """FᵀF as a k×k numpy array — one agg over k(k+1)/2 column expressions."""
    import numpy as np

    fcols = _factor_cols(k)
    aggs = [
        F.sum(F.col(fcols[i]) * F.col(fcols[j])).alias(f"g_{i}_{j}")
        for i in range(k)
        for j in range(i, k)
    ]
    row = f.agg(*aggs).collect()[0]
    g = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            g[i, j] = g[j, i] = row[f"g_{i}_{j}"]
    return g


def _solve_side(a_keyed: DataFrame, other_factor: DataFrame, k: int, gram: "object", eps: float) -> DataFrame:
    """new = onlyPos(inv(G+εI) · (FᵀA)) — FᵀA via join+agg, inverse on driver."""
    import numpy as np

    fcols = _factor_cols(k)
    inv = np.linalg.inv(gram + eps * np.eye(k))
    fta = (
        a_keyed.join(other_factor.withColumnRenamed("id", "other"), "other")
        .groupBy("id")
        .agg(*[F.sum(F.col("w") * F.col(c)).alias(f"t{i}") for i, c in enumerate(fcols)])
    )
    # new_f[j] = max(0, Σ_i inv[j,i] · t_i) — k² term expansion, JVM-side
    new_cols = []
    for j in range(k):
        expr = None
        for i in range(k):
            term = F.lit(float(inv[j, i])) * F.col(f"t{i}")
            expr = term if expr is None else expr + term
        new_cols.append(F.greatest(expr, F.lit(0.0)).alias(fcols[j]))
    return fta.select("id", *new_cols)


def nmf(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 4,
    *,
    max_iter: int = 10,
    seed: int = 42,
    eps: float = 1e-9,
    init: str = "xxhash",
) -> tuple[DataFrame, DataFrame]:
    """Factor the sparse matrix A(src,dst)=w. Returns (W, H):
    W = DataFrame[id(src-space), f0..f{k-1}], H = DataFrame[id(dst-space), ...].
    Alternating nonneg least squares, exactly the reference's update rule."""
    rows = edges.select(F.col("src").alias("id")).distinct()
    cols_ = edges.select(F.col("dst").alias("id")).distinct()
    w_df = _init_factor(rows, "id", k, seed, init).transform(materialize)
    h_df = _init_factor(cols_, "id", k, seed + 1000, init).transform(materialize)

    a_by_src = edges.select(F.col("src").alias("id"), F.col("dst").alias("other"), "w").cache()
    a_by_dst = edges.select(F.col("dst").alias("id"), F.col("src").alias("other"), "w").cache()

    # the factors are materialized every half-step, so the returned pair
    # never references the loop-scoped edge caches
    try:
        for _ in range(max_iter):
            h_df = _solve_side(a_by_dst, w_df, k, _gram(w_df, k), eps).transform(materialize)
            w_df = _solve_side(a_by_src, h_df, k, _gram(h_df, k), eps).transform(materialize)
        return w_df, h_df
    finally:
        a_by_src.unpersist()
        a_by_dst.unpersist()


def assign_topics(edges: DataFrame, h_df: DataFrame, k: int, *, eps: float = 1e-9) -> DataFrame:
    """doHT_HHTinv (Graphulo.java:4302-4343): project NEW rows/documents onto
    an existing topic factor H — one frozen-H W-update,
    W_new = onlyPos((A_new·H) · inv(HᵀH + εI)). Returns [id, f0..f{k-1}]
    keyed by the new rows' src ids."""
    a_by_src = edges.select(F.col("src").alias("id"), F.col("dst").alias("other"), "w")
    return _solve_side(a_by_src, h_df, k, _gram(h_df, k), eps)


def reconstruction_error(edges: DataFrame, w_df: DataFrame, h_df: DataFrame, k: int) -> float:
    """Σ (A(i,j) − W(i)·H(j))² over the nonzeros (sparse-support error)."""
    fcols = _factor_cols(k)
    dot = None
    for c in fcols:
        term = F.col(f"w_{c}") * F.col(f"h_{c}")
        dot = term if dot is None else dot + term
    wj = w_df.select(F.col("id").alias("src"), *[F.col(c).alias(f"w_{c}") for c in fcols])
    hj = h_df.select(F.col("id").alias("dst"), *[F.col(c).alias(f"h_{c}") for c in fcols])
    return (
        edges.join(wj, "src")
        .join(hj, "dst")
        .select(F.pow(F.col("w") - dot, 2).alias("e"))
        .agg(F.sum("e"))
        .collect()[0][0]
    )
