"""Driver-contract queries: every operator exposed as (spark, sf_dir) → DataFrame
with a DuckDB-runnable ANSI-SQL oracle producing identical rows.

Two derived graphs over the TPC-H-ish test tables stand in for the
transcript-derived link graph (same shapes, SQL-checkable):

- **copurchase**: parts co-occurring in an order → edge (src<dst, w=count).
  ~116k edges on 2k vertices at sf0.01, power-law-ish degrees — the SpMV /
  triangle / CC workload.
- **transitions**: consecutive event_types per user ordered by (ts, event_id)
  → directed edge (prev→next, w=count). This mirrors the transcript→edge
  induction exactly (lag window over a stable ordering key — see
  graphulo_spark.transcripts.edges).

Float-parity policy for oracles: round every float output so the rounding
quantum is ≫ the accumulated FP error (rank ~5e-4 with 1e-18 error → round 8;
O(1) ratios → round 6; big revenue sums → integer). Integer/exact-double
results are never rounded.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphulo_spark.algorithms import (
    adj_bfs,
    connected_components,
    jaccard,
    label_propagation,
    pagerank,
)
from graphulo_spark.algorithms.bfs import single_bfs
from graphulo_spark.algorithms.nmf import assign_topics, nmf
from graphulo_spark.algorithms.scc import scc
from graphulo_spark.algorithms.triangles import edge_support, triangle_closers
from graphulo_spark.algorithms.ktruss import ktruss, ktruss_edge
from graphulo_spark.linalg.edges import canonicalize
from graphulo_spark.linalg.incidence import edge_bfs, from_incidence, to_incidence
from graphulo_spark.linalg.rowmult import table_mult_rowop
from graphulo_spark.linalg import (
    bernoulli_sample,
    degrees,
    ewise_mult,
    ewise_sum,
    minmax_filter,
    row_degree_filter,
    row_selector,
    spgemm,
    symmetrize,
    table_diff,
    top_k_per_row,
)
from graphulo_spark.pipeline.dedup import (
    dedup_clusters,
    dedup_keep_set,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from graphulo_spark.pipeline.similarity import (
    ann_candidates,
    bray_curtis_pairs,
    cosine_topk,
    embedding_near_dup,
    ivf_topk,
)
from graphulo_spark.pipeline.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
    token_count_bpeish,
)

# degree low-pass for the Jaccard query: ≤ 90 keeps roughly the lower half of
# the sf0.01 copurchase degree distribution (mean sym degree ≈ 117), so the
# oracle returns thousands of real coefficients — the previous cutoff (20) was
# vacuously green: 0 rows from both engines
JACCARD_DEG_CUTOFF = 90

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------


def _lineitem(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/lineitem.parquet")


def copurchase_edges(spark: SparkSession, sf: str, parity: int | None = None) -> DataFrame:
    """Edge table: parts co-purchased in one order (canonical src<dst).
    parity (0/1) restricts to even/odd orderkeys — used to derive two
    overlapping tables for the two-table operators.

    Execution (r6): one groupBy(l_orderkey) collects each order's partkeys
    and every ordered pair (x < y, multiplicity preserved — identical to the
    former self-join on l_orderkey with a.partkey < b.partkey) is emitted by
    an in-stage nested-transform, so the lineitem table crosses the network
    ONCE instead of feeding both sides of a shuffle join plus a sort
    (guide §2.4; bitwise-equal output incl. weights, ~35% faster at sf0.1).
    Per-order work is O(items²) — exactly the former join's output size."""
    li = _lineitem(spark, sf).select("l_orderkey", "l_partkey")
    if parity is not None:
        li = li.filter(F.pmod("l_orderkey", F.lit(2)) == parity)
    pk = F.col("pk")
    pairs = F.flatten(
        F.transform(
            pk,
            lambda x: F.filter(
                F.transform(pk, lambda y: F.when(x < y, F.struct(x.alias("s"), y.alias("d")))),
                lambda st: st.isNotNull(),
            ),
        )
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.collect_list("l_partkey").alias("pk"))
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.s").alias("src"), F.col("p.d").alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
    )


COPURCHASE_CTE = """
copurchase AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)"""


def _copurchase_half_cte(name: str, parity: int) -> str:
    return f"""
{name} AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 2 = {parity}
  GROUP BY 1, 2
)"""


SYM_CTE = """
sym AS (
  SELECT src, dst, w FROM copurchase
  UNION ALL
  SELECT dst AS src, src AS dst, w FROM copurchase
)"""

VERTICES_CTE = "vertices AS (SELECT DISTINCT src AS v FROM sym)"


def transitions_edges(spark: SparkSession, sf: str) -> DataFrame:
    """events-as-transcripts edge induction: consecutive event_types per user
    (same lag-window derivation as transcripts.induce_edges)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.withColumn("_prev", F.lag("event_type").over(w))
    return (
        t.filter(F.col("_prev").isNotNull() & (F.col("_prev") != F.col("event_type")))
        .groupBy(F.col("_prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
    )


TRANSITIONS_CTE = """
trans AS (
  SELECT prev AS src, event_type AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
  )
  WHERE prev IS NOT NULL AND prev != event_type
  GROUP BY 1, 2
)"""


# ---------------------------------------------------------------------------
# iterative SQL oracles (generated CTE chains)
# ---------------------------------------------------------------------------


def _mat(cte: str) -> str:
    """Rewrite the first 'name AS (' into 'name AS MATERIALIZED (' — DuckDB
    inlines plain CTEs per reference, which goes exponential on chained
    iteration CTEs that reference the previous level twice."""
    return cte.replace(" AS (", " AS MATERIALIZED (", 1)


def _pagerank_sql(iters: int = 5, alpha: float = 0.85) -> str:
    """Chained-CTE power iteration on the symmetrized copurchase graph
    (no dangling vertices by construction)."""
    ctes = [
        _mat(COPURCHASE_CTE.strip()),
        _mat(SYM_CTE.strip()),
        _mat(VERTICES_CTE),
        _mat("nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices)"),
        _mat("norm AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS nw FROM sym)"),
        _mat("r0 AS (SELECT v, 1.0 / n AS x FROM vertices CROSS JOIN nn)"),
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT vv.v, (1 - {alpha}) / nn.n + {alpha} * COALESCE(s.c, 0) AS x
  FROM vertices vv CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS v, SUM(e.nw * r.x) AS c
    FROM norm e JOIN r{k - 1} r ON e.src = r.v
    GROUP BY e.dst
  ) s ON vv.v = s.v
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT v, ROUND(x, 8) AS rank FROM r{iters}"
    )


def _cc_sql(iters: int = 15) -> str:
    ctes = [_mat(COPURCHASE_CTE.strip()), _mat(SYM_CTE.strip()), _mat(VERTICES_CTE),
            _mat("l0 AS (SELECT v, v AS label FROM vertices)")]
    for k in range(1, iters + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT l.v, LEAST(l.label, COALESCE(m.nbr, l.label)) AS label
  FROM l{k - 1} l LEFT JOIN (
    SELECT e.dst AS v, MIN(x.label) AS nbr
    FROM sym e JOIN l{k - 1} x ON e.src = x.v
    GROUP BY e.dst
  ) m ON l.v = m.v
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT v, label AS component FROM l{iters}"


def _lp_sql(iters: int = 3) -> str:
    ctes = [_mat(COPURCHASE_CTE.strip()), _mat(SYM_CTE.strip()), _mat(VERTICES_CTE),
            _mat("l0 AS (SELECT v, v AS label FROM vertices)")]
    for k in range(1, iters + 1):
        ctes.append(
            f"""w{k} AS MATERIALIZED (
  SELECT e.dst AS v, x.label, SUM(e.w) AS wt
  FROM sym e JOIN l{k - 1} x ON e.src = x.v
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT v, label FROM w{k}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY v ORDER BY wt DESC, label ASC) = 1
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT v, label FROM l{iters}"


def _simhash_ctes(bits: int = 32) -> str:
    """CTE chain ending in ``sig(id, simhash)`` — shared by the signature and
    candidate-pair oracles."""
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(bits)
    )
    sig = " + ".join(f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(bits))
    return f"""toks AS (
  SELECT doc_id AS id, UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
  FROM documents
),
hashed AS (
  SELECT id, ('0x' || substr(md5(tok), 1, {bits // 4}))::BIGINT AS h FROM toks
),
agg AS (
  SELECT id,
    {votes}
  FROM hashed GROUP BY id
),
sig AS MATERIALIZED (
  SELECT id, CAST({sig} AS BIGINT) AS simhash FROM agg
)"""


def _simhash_sql(bits: int = 32) -> str:
    return f"WITH {_simhash_ctes(bits)}\nSELECT id, simhash FROM sig"


def _ktruss_sql(k: int = 3, iters: int = 4) -> str:
    """Bounded-unroll k-truss fixpoint (same technique as _cc_sql): each level
    recomputes triangle support over the surviving edges and filters. The
    Spark side iterates to the actual fixpoint; ``iters`` must be ≥ the
    convergence depth at the driver's sf (verified empirically: 2 at sf0.01,
    unrolled to 4 for slack — applying the filter to a fixpoint is identity)."""
    ctes = [_mat(COPURCHASE_CTE.strip()), _mat("e0 AS (SELECT src, dst FROM copurchase)")]
    for t in range(iters):
        ctes.append(
            f"""tri{t} AS MATERIALIZED (
  SELECT a.src AS a, a.dst AS b, b.dst AS c
  FROM e{t} a JOIN e{t} b ON a.dst = b.src JOIN e{t} x ON a.src = x.src AND b.dst = x.dst)"""
        )
        ctes.append(
            f"""sup{t} AS MATERIALIZED (
  SELECT src, dst, COUNT(*) AS s FROM (
    SELECT a AS src, b AS dst FROM tri{t}
    UNION ALL SELECT b, c FROM tri{t}
    UNION ALL SELECT a, c FROM tri{t}) GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""e{t + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{t} e JOIN sup{t} s ON e.src = s.src AND e.dst = s.dst
  WHERE s.s >= {k - 2})"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT src, dst FROM e{iters}"


def _scc_sql(levels: int = 5) -> str:
    """SCC by bounded transitive-closure squaring over the transitions graph:
    r_{k} holds reachability over paths of length ≤ 2^k (identity included),
    SCC id = min over mutually-reachable vertices — exactly the reference's
    reachability semantics (SCCGraphulo.java:56-159 iterated R·A)."""
    ctes = [
        _mat(TRANSITIONS_CTE.strip()),
        _mat(
            "vv AS (SELECT DISTINCT src AS v FROM trans UNION SELECT DISTINCT dst FROM trans)"
        ),
        _mat("r0 AS (SELECT src, dst FROM trans UNION SELECT v AS src, v AS dst FROM vv)"),
    ]
    for k in range(1, levels + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT DISTINCT a.src, b.dst FROM r{k - 1} a JOIN r{k - 1} b ON a.dst = b.src)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.src AS v, MIN(a.dst) AS scc
FROM r{levels} a JOIN r{levels} b ON a.dst = b.src AND b.dst = a.src
GROUP BY a.src"""
    )


def _nmf_sql(iters: int = 2, eps: float = 1e-9, seed: int = 42, project_new: bool = False) -> str:
    """k=2 NMF unrolled in SQL: the 2×2 gram inverse is closed-form, the init
    is the engine's portable md5 family, every CTE is one (FᵀA)-style
    join+aggregate — the same update rule as algorithms.nmf (H then W per
    iteration, onlyPos clamp). Rounded to 4 decimals (quantum ≫ the ~1e-13
    FP divergence between LAPACK and closed-form 2×2 inversion).

    project_new=True appends the doHT_HHTinv step (assign_topics): freeze the
    final H and project the odd-src half of the edge table — the "new
    documents" — through one W-update against it."""

    def init_col(s: int) -> str:
        return (
            f"(('0x' || substr(md5(CAST(v AS VARCHAR) || ':{s}'), 1, 15))::BIGINT"
            f" % 1000 + 1) / 1000.0"
        )

    ctes = [
        _mat(COPURCHASE_CTE.strip()),
        _mat("rows_ AS (SELECT DISTINCT src AS v FROM copurchase)"),
        _mat(
            f"w0 AS (SELECT v AS id, {init_col(seed)} AS f0, {init_col(seed + 1)} AS f1 FROM rows_)"
        ),
    ]

    def gram_inv(tag: str, fac: str) -> None:
        ctes.append(
            f"""g{tag} AS MATERIALIZED (
  SELECT SUM(f0*f0) AS g00, SUM(f0*f1) AS g01, SUM(f1*f1) AS g11 FROM {fac})"""
        )
        ctes.append(
            f"""i{tag} AS MATERIALIZED (
  SELECT (g11 + {eps!r}) / d AS i00, -g01 / d AS i01, (g00 + {eps!r}) / d AS i11
  FROM (SELECT g00, g01, g11,
               (g00 + {eps!r}) * (g11 + {eps!r}) - g01 * g01 AS d FROM g{tag}))"""
        )

    def solve(tag: str, out: str, a_id: str, a_other: str, fac: str, table: str = "copurchase") -> None:
        ctes.append(
            f"""{out} AS MATERIALIZED (
  SELECT a.{a_id} AS id,
         GREATEST(0.0, MAX(i.i00) * SUM(a.w * f.f0) + MAX(i.i01) * SUM(a.w * f.f1)) AS f0,
         GREATEST(0.0, MAX(i.i01) * SUM(a.w * f.f0) + MAX(i.i11) * SUM(a.w * f.f1)) AS f1
  FROM {table} a JOIN {fac} f ON a.{a_other} = f.id CROSS JOIN i{tag} i
  GROUP BY a.{a_id})"""
        )

    prev_w = "w0"
    for t in range(1, iters + 1):
        gram_inv(f"w{t}", prev_w)
        solve(f"w{t}", f"h{t}", "dst", "src", prev_w)
        gram_inv(f"h{t}", f"h{t}")
        solve(f"h{t}", f"w{t}", "src", "dst", f"h{t}")
        prev_w = f"w{t}"
    out = f"w{iters}"
    if project_new:
        ctes.append(_mat("newdocs AS (SELECT * FROM copurchase WHERE src % 2 = 1)"))
        gram_inv("p", f"h{iters}")
        solve("p", "wnew", "src", "dst", f"h{iters}", table="newdocs")
        out = "wnew"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(f0, 4) AS f0, ROUND(f1, 4) AS f1 FROM {out}"
    )


def _ivf_sql(n_cells: int = 8, iters: int = 2, n_probe: int = 3, k: int = 5, seed: int = 42) -> str:
    """Mirror of similarity.ivf_centroids + ivf_topk. Determinism contract
    with the Spark side: seed pick = k smallest md5(vec_id:seed); centroid
    components rounded to 1e-6 after every Lloyd mean (kills float-summation-
    order noise before any argmax); assignment tie → lowest cell; probe
    ranking tie → highest cell (reverse(array_sort) semantics); cosines
    folded in index order on both engines."""

    def cos(ve: str, ce: str) -> str:
        # norms floored at 1e-300 (same floor as similarity._cos_to_lit) so a
        # zero vector scores cosine 0 on both engines instead of 0/0
        return (
            f"list_sum(list_transform(range(1, len({ve}) + 1), i -> {ve}[i] * {ce}[i]))"
            f" / (greatest(sqrt(list_sum(list_transform({ve}, x -> x * x))), 1e-300)"
            f" * greatest(sqrt(list_sum(list_transform({ce}, x -> x * x))), 1e-300))"
        )

    def assign(out: str, cents: str) -> str:
        return f"""{out} AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos('e.v', 'c.cent')} DESC, c.cell ASC) AS rn
    FROM emb e CROSS JOIN {cents} c) WHERE rn = 1)"""

    ctes = [
        "emb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}')) - 1 AS INT) AS cell,
         list_transform(v, x -> ROUND(x, 6)) AS cent
  FROM emb
  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}')) <= {n_cells})""",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        ctes.append(assign(f"a{t}", prev))
        ctes.append(
            f"""m{t} AS MATERIALIZED (
  SELECT cell, u.i - 1 AS dim, AVG(v[u.i]) AS m
  FROM a{t}, UNNEST(range(1, len(v) + 1)) AS u(i) GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""c{t} AS MATERIALIZED (
  SELECT p.cell, COALESCE(n.cent, p.cent) AS cent
  FROM {prev} p LEFT JOIN (
    SELECT cell, list_transform(list(m ORDER BY dim), x -> ROUND(x, 6)) AS cent
    FROM m{t} GROUP BY cell) n USING (cell))"""
        )
        prev = f"c{t}"
    ctes.append(assign("base", prev))
    ctes.append("q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM emb ORDER BY vec_id LIMIT 5)")
    ctes.append(
        f"""qc AS MATERIALIZED (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {cos('q.qv', 'c.cent')} DESC, c.cell DESC) AS rn
    FROM q CROSS JOIN {prev} c) WHERE rn <= {n_probe})"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, vec_id, ROUND({cos('qc.qv', 'b.v')}, 6) AS cosine
FROM base b JOIN qc ON b.cell = qc.cell AND b.vec_id != qc.query_id
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY ROUND({cos('qc.qv', 'b.v')}, 6) DESC, vec_id ASC) <= {k}"""
    )


_KNUTH = 2654435761


def _ann_sql(n_planes: int = 8, n_tables: int = 3) -> str:
    """Mirror of similarity.lsh_hyperplane_buckets + ann_candidates: plane
    components are Knuth-multiplicative integer arithmetic (engine-portable),
    buckets are sign-bit sums, candidates from equal buckets across tables,
    exact cosine rerank."""
    table_sqls = []
    for t in range(n_tables):
        terms = []
        for p in range(n_planes):
            salt = (97 * t + p) * 40503
            dot = (
                f"list_sum(list_transform(range(0, len(v)), d -> "
                f"v[d + 1] * ((((d * {_KNUTH} + {salt}) % 1000) - 500) / 500.0)))"
            )
            terms.append(f"CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END")
        bucket = " + ".join(terms)
        table_sqls.append(
            f"SELECT vec_id, {bucket} + {t << n_planes} AS bucket FROM emb"
        )
    buckets = "\nUNION ALL ".join(table_sqls)
    return f"""
WITH emb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
buckets AS MATERIALIZED ({buckets}),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT p.id_a, p.id_b, ROUND(list_cosine_similarity(x.v, y.v), 6) AS cosine
FROM pairs p JOIN emb x ON p.id_a = x.vec_id JOIN emb y ON p.id_b = y.vec_id"""


def _simhash_pairs_sql(bits: int = 32, bands: int = 4, max_hamming: int = 12) -> str:
    """Mirror of dedup.simhash_pairs: equal-bit-band buckets → pair join →
    exact Hamming rank (bit_count over XOR, JVM/DuckDB-portable)."""
    width = bits // bands
    mask = (1 << width) - 1
    band_list = ", ".join(str(b) for b in range(bands))
    return f"""
WITH {_simhash_ctes(bits)},
bandsx AS MATERIALIZED (
  SELECT id, simhash, u.b AS band, (simhash >> (u.b * {width})) & {mask} AS bv
  FROM sig, UNNEST([{band_list}]) AS u(b)
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM bandsx a JOIN bandsx b ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


SHINGLES_CTE = """
toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
sh AS (
  SELECT DISTINCT id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t) - 1) ELSE [] END) AS u(i)
)"""


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: copurchase link graph from sf0.001 → 5 PageRank supersteps →
    top-20 parts by rank with their catalog names."""
    sf = "/root/testdata/sf0.001"
    edges = symmetrize(copurchase_edges(spark, sf))
    ranks = pagerank(spark, edges, tol=0.0, max_iter=5)
    part = spark.read.parquet(f"{sf}/part.parquet")
    return (
        ranks.join(part, ranks["v"] == part["p_partkey"])
        .select(F.col("v").alias("partkey"), "p_name", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "partkey")
        .limit(20)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- scans / filters / projections (Graphulo OneTable + filter family) --
    q["onetable_scan_filter"] = lambda spark, sf: (
        _lineitem(spark, sf)
        .filter((F.col("l_shipdate") < "1995-06-01") & F.col("l_discount").between(0.02, 0.06))
        .select("l_orderkey", "l_partkey", "l_extendedprice")
    )
    q["relational_agg"] = lambda spark, sf: (
        _lineitem(spark, sf)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 0).cast("long").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
    q["edge_induction_transitions"] = transitions_edges
    q["edge_table_copurchase"] = copurchase_edges
    q["degree_table"] = lambda spark, sf: degrees(copurchase_edges(spark, sf), by="src")
    q["minmax_filter"] = lambda spark, sf: minmax_filter(copurchase_edges(spark, sf), lo=2.0, hi=5.0)
    q["row_degree_filter"] = lambda spark, sf: row_degree_filter(
        copurchase_edges(spark, sf), min_degree=50
    )
    q["bernoulli_sample"] = lambda spark, sf: bernoulli_sample(
        _lineitem(spark, sf)
        .select((F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k"), "l_partkey")
        .withColumn("k", F.pmod("k", F.lit(99991))),
        "k",
        10,
    )
    q["topk_per_row"] = lambda spark, sf: top_k_per_row(copurchase_edges(spark, sf), 3)

    # -- two-table ops (TwoTableIterator modes) --
    q["ewise_mult"] = lambda spark, sf: ewise_mult(
        copurchase_edges(spark, sf, parity=0), copurchase_edges(spark, sf, parity=1)
    )
    q["ewise_sum"] = lambda spark, sf: ewise_sum(
        copurchase_edges(spark, sf, parity=0), copurchase_edges(spark, sf, parity=1)
    )
    q["table_diff"] = lambda spark, sf: table_diff(
        copurchase_edges(spark, sf, parity=0), copurchase_edges(spark, sf, parity=1)
    )
    q["row_selector"] = lambda spark, sf: row_selector(
        copurchase_edges(spark, sf, parity=1), copurchase_edges(spark, sf, parity=0)
    )
    q["spgemm_tablemult"] = lambda spark, sf: spgemm(
        transitions_edges(spark, sf), transitions_edges(spark, sf)
    )
    # -- graph algorithms --
    # degree-oriented closers: the triangle SET is orientation-invariant,
    # so the id-order SQL oracle certifies this count
    q["triangle_count"] = lambda spark, sf: (
        triangle_closers(copurchase_edges(spark, sf))
        .agg(F.count("*").alias("triangles"))
    )
    q["edge_support"] = lambda spark, sf: edge_support(copurchase_edges(spark, sf))
    q["jaccard_lowpass"] = lambda spark, sf: (
        jaccard(_jaccard_lowpass_edges(spark, sf))
        .select("src", "dst", F.round("jaccard", 6).alias("jaccard"))
    )
    q["adj_bfs_2hop"] = _bfs_query
    q["adj_bfs_2hop_gated"] = _bfs_gated_query
    q["edge_bfs_2hop"] = _edge_bfs_query
    q["line_graph"] = _line_graph_query
    q["ktruss_3"] = lambda spark, sf: ktruss(spark, copurchase_edges(spark, sf), k=3)
    q["scc_transitions"] = lambda spark, sf: scc(spark, transitions_edges(spark, sf))
    q["nmf_w_factor"] = lambda spark, sf: (
        nmf(spark, copurchase_edges(spark, sf), k=2, max_iter=2, init="md5")[0]
        .select("id", F.round("f0", 4).alias("f0"), F.round("f1", 4).alias("f1"))
    )
    # doHT_HHTinv: freeze the trained H and project "new documents" (the
    # odd-src half of the edge table) through one W-update against it
    q["assign_topics"] = lambda spark, sf: (
        assign_topics(
            copurchase_edges(spark, sf).filter(F.pmod("src", F.lit(2)) == 1),
            nmf(spark, copurchase_edges(spark, sf), k=2, max_iter=2, init="md5")[1],
            2,
        ).select("id", F.round("f0", 4).alias("f0"), F.round("f1", 4).alias("f1"))
    )
    q["pagerank_5iter"] = lambda spark, sf: (
        pagerank(spark, symmetrize(copurchase_edges(spark, sf)), tol=0.0, max_iter=5)
        .select("v", F.round("rank", 8).alias("rank"))
    )
    q["connected_components"] = lambda spark, sf: connected_components(
        spark, copurchase_edges(spark, sf)
    )
    q["label_propagation_3iter"] = lambda spark, sf: label_propagation(
        spark, copurchase_edges(spark, sf), iters=3
    )
    q["count_entries_rows"] = lambda spark, sf: copurchase_edges(spark, sf).agg(
        F.count("*").alias("n_entries"), F.countDistinct("src").alias("n_rows")
    )

    # -- text / dedup / similarity pipeline --
    q["tfidf"] = _tfidf_query
    q["exact_dedup"] = lambda spark, sf: exact_dedup(spark.read.parquet(f"{sf}/documents.parquet"))
    q["dedup_keep_set"] = lambda spark, sf: dedup_keep_set(
        spark.read.parquet(f"{sf}/documents.parquet"), threshold=0.8
    )
    q["dedup_clusters"] = lambda spark, sf: dedup_clusters(
        spark, spark.read.parquet(f"{sf}/documents.parquet"), threshold=0.8
    )
    q["ngram_jaccard_pairs"] = lambda spark, sf: (
        ngram_jaccard_pairs(
            spark.read.parquet(f"{sf}/documents.parquet"), threshold=0.1, max_shingle_freq=None
        ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    q["minhash_signatures"] = lambda spark, sf: minhash_signatures(
        spark.read.parquet(f"{sf}/documents.parquet"), k=4
    )
    q["minhash_lsh_pairs"] = lambda spark, sf: minhash_lsh_pairs(
        spark.read.parquet(f"{sf}/documents.parquet"), k=8, bands=4
    )
    q["simhash"] = lambda spark, sf: simhash(spark.read.parquet(f"{sf}/documents.parquet"), bits=32)
    q["simhash_pairs"] = lambda spark, sf: simhash_pairs(
        spark.read.parquet(f"{sf}/documents.parquet"), bits=32, bands=4, max_hamming=12
    )
    q["doc_fingerprint"] = lambda spark, sf: doc_fingerprint(
        spark.read.parquet(f"{sf}/documents.parquet")
    )
    q["token_count"] = lambda spark, sf: token_count(spark.read.parquet(f"{sf}/documents.parquet"))
    q["token_count_bpeish"] = lambda spark, sf: token_count_bpeish(
        spark.read.parquet(f"{sf}/documents.parquet")
    )
    q["text_quality"] = lambda spark, sf: quality_score(spark.read.parquet(f"{sf}/documents.parquet"))
    q["lang_id"] = lambda spark, sf: lang_id(spark.read.parquet(f"{sf}/documents.parquet"))
    q["cosine_topk"] = lambda spark, sf: (
        cosine_topk(
            spark.read.parquet(f"{sf}/embeddings.parquet"),
            spark.read.parquet(f"{sf}/embeddings.parquet").orderBy("vec_id").limit(5),
            k=5,
        )
    )
    q["ann_candidates"] = lambda spark, sf: ann_candidates(
        spark.read.parquet(f"{sf}/embeddings.parquet"), n_planes=8, n_tables=3
    )
    q["embedding_near_dup"] = lambda spark, sf: embedding_near_dup(
        spark.read.parquet(f"{sf}/embeddings.parquet"), threshold=0.35, n_planes=8, n_tables=3
    )

    def _ivf_query(spark, sf):
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        return ivf_topk(emb, emb.orderBy("vec_id").limit(5), k=5, n_cells=8, n_probe=3, iters=2)

    q["ivf_topk"] = _ivf_query
    q["bray_curtis"] = lambda spark, sf: (
        bray_curtis_pairs(
            spark.read.parquet(f"{sf}/embeddings.parquet")
            .filter(F.pmod("vec_id", F.lit(5)) == 0)
            # Bray-Curtis is an abundance (nonnegative) dissimilarity —
            # fold the embeddings through |·| to stay in its domain
            .withColumn("embedding", F.transform("embedding", lambda x: F.abs(x)))
        ).select("id_a", "id_b", F.round("bray_curtis", 6).alias("bray_curtis"))
    )

    q["degree_table_weighted"] = lambda spark, sf: degrees(
        copurchase_edges(spark, sf), by="src", weighted=True
    )

    # ------------------------------------------------------------------
    # The driver's correctness harness checks only the FIRST 50 entries of
    # this dict. Everything below this line is redundant-by-design with a
    # sibling that keeps a driver row, and is additionally pinned by a pytest
    # cross-implementation equality test. spgemm_rowop sits at position 50,
    # the last one inside the driver window; the rest lie beyond it:
    #   spgemm_rowop          == spgemm_tablemult  (tests/test_linalg.py)
    #   single_bfs_2hop       == adj_bfs_2hop      (tests/test_algorithms.py)
    #   ktruss_edge_3         == ktruss_3          (tests/test_algorithms.py)
    #   triangle_count_adjedge== triangle_count    (tests/test_algorithms.py)
    # New driver-checked queries MUST be inserted ABOVE this block; anything
    # added below it never gets a CORRECTNESS row.
    # ------------------------------------------------------------------
    q["spgemm_rowop"] = lambda spark, sf: table_mult_rowop(
        transitions_edges(spark, sf), transitions_edges(spark, sf)
    )
    q["single_bfs_2hop"] = _single_bfs_query
    q["ktruss_edge_3"] = lambda spark, sf: from_incidence(
        ktruss_edge(spark, to_incidence(canonicalize(copurchase_edges(spark, sf))), k=3)
    )
    q["triangle_count_adjedge"] = lambda spark, sf: (
        edge_support(copurchase_edges(spark, sf))
        .agg((F.sum("support") / 3).cast("long").alias("triangles"))
    )
    return q


def _jaccard_lowpass_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Graphulo JaccardExample's low-pass pattern (examples/JaccardExample.java):
    degree-filter (≤JACCARD_DEG_CUTOFF) the symmetrized graph, keep edges with
    BOTH endpoints surviving, then Jaccard.

    CACHE OWNERSHIP: one-shot driver-query constructor — the two caches live
    until the session ends (the driver's sessions are per-run). Long-lived
    sessions should clearCache() after consuming the result."""
    sym = symmetrize(copurchase_edges(spark, sf)).cache()
    deg = degrees(sym, by="src").filter(F.col("deg") <= JACCARD_DEG_CUTOFF).select("v")
    kept = (
        sym.join(deg.withColumnRenamed("v", "src"), "src", "left_semi")
        .join(deg.withColumnRenamed("v", "dst"), "dst", "left_semi")
        .select("src", "dst", "w")
    )
    return kept.cache()  # jaccard() fans this out into three subtrees


def _edge_bfs_query(spark: SparkSession, sf: str) -> DataFrame:
    """EdgeBFS parity (Graphulo.java:1326-1528): 2-hop directed BFS executed
    through the incidence-table encoding; result equals plain reachability."""
    e = copurchase_edges(spark, sf)
    seed = e.agg(F.min("src")).collect()[0][0]
    inc = to_incidence(e)
    return edge_bfs(spark, inc, [seed], k=2).select(
        "v", F.col("dist").cast("int").alias("dist")
    )


def _line_graph_query(spark: SparkSession, sf: str) -> DataFrame:
    """LineGraph (Graphulo.java:2011-2033) over the transitions graph:
    pairs of edges sharing an endpoint, endpoints spelled out so the SQL
    oracle needs no engine-specific edge-id hash.

    CACHE OWNERSHIP: one-shot driver-query constructor (see
    _jaccard_lowpass_edges) — the cache lives until the per-run session ends;
    long-lived sessions should clearCache() after consuming the result."""
    t = transitions_edges(spark, sf).select("src", "dst").cache()
    ends = t.select("src", "dst", F.explode(F.array("src", "dst")).alias("shared_v"))
    a = ends.select(
        F.col("src").alias("a_src"), F.col("dst").alias("a_dst"), "shared_v"
    )
    b = ends.select(
        F.col("src").alias("b_src"), F.col("dst").alias("b_dst"), "shared_v"
    )
    pair_lt = (F.col("a_src") < F.col("b_src")) | (
        (F.col("a_src") == F.col("b_src")) & (F.col("a_dst") < F.col("b_dst"))
    )
    return a.join(b, "shared_v").filter(pair_lt).distinct()


def _bfs_query(spark: SparkSession, sf: str) -> DataFrame:
    e = copurchase_edges(spark, sf)
    seed = e.agg(F.min("src")).collect()[0][0]
    return adj_bfs(spark, e, [seed], k=2).select("v", F.col("dist").cast("int").alias("dist"))


# just above the sf0.01 median sym degree (115): the seed (deg 123) expands,
# a real fraction of the 1-hop frontier is gated — non-vacuous both ways
BFS_GATE_MAX_DEG = 130


def _bfs_gated_query(spark: SparkSession, sf: str) -> DataFrame:
    """AdjBFS with the degree gate engaged (Graphulo ADegtable MinMaxFilter,
    Graphulo.java:1239-1276): a frontier vertex is expanded only when its
    degree ≤ BFS_GATE_MAX_DEG — hubs are reached but not traversed through."""
    e = copurchase_edges(spark, sf)
    seed = e.agg(F.min("src")).collect()[0][0]
    return adj_bfs(spark, e, [seed], k=2, max_degree=BFS_GATE_MAX_DEG).select(
        "v", F.col("dist").cast("int").alias("dist")
    )


def _single_bfs_query(spark: SparkSession, sf: str) -> DataFrame:
    """SingleBFS path (distance-vector semiring relaxation) — same oracle as
    adj_bfs_2hop: the two implementations must agree (Graphulo's own
    cross-implementation equality pattern)."""
    e = copurchase_edges(spark, sf)
    seed = e.agg(F.min("src")).collect()[0][0]
    return single_bfs(spark, e, [seed], k=2).select("v", F.col("dist").cast("int").alias("dist"))


def _tfidf_query(spark: SparkSession, sf: str) -> DataFrame:
    """Graphulo doTfidf semantics (Graphulo.java:4364-4375,
    apply/TfidfDegreeApply.java:29-101): tfidf = ln(1+tf) · ln(N/df)."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_docs = docs.count()
    toks = docs.select(
        F.col("doc_id").alias("id"), F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    df = toks.select("id", "term").distinct().groupBy("term").agg(F.count("*").alias("df"))
    return tf.join(df, "term").select(
        "id",
        "term",
        "tf",
        F.round(F.log1p(F.col("tf")) * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["onetable_scan_filter"] = """
SELECT l_orderkey, l_partkey, l_extendedprice FROM lineitem
WHERE l_shipdate < '1995-06-01' AND l_discount BETWEEN 0.02 AND 0.06"""
    o["relational_agg"] = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 0) AS BIGINT) AS revenue,
       COUNT(*) AS n_items
FROM lineitem GROUP BY 1, 2"""
    o["edge_induction_transitions"] = f"WITH {TRANSITIONS_CTE.strip()} SELECT src, dst, w FROM trans"
    o["edge_table_copurchase"] = f"WITH {COPURCHASE_CTE.strip()} SELECT src, dst, w FROM copurchase"
    o["degree_table"] = (
        f"WITH {COPURCHASE_CTE.strip()} "
        "SELECT src AS v, CAST(COUNT(*) AS DOUBLE) AS deg FROM copurchase GROUP BY src"
    )
    o["degree_table_weighted"] = (
        f"WITH {COPURCHASE_CTE.strip()} SELECT src AS v, SUM(w) AS deg FROM copurchase GROUP BY src"
    )
    o["minmax_filter"] = (
        f"WITH {COPURCHASE_CTE.strip()} SELECT * FROM copurchase WHERE w BETWEEN 2.0 AND 5.0"
    )
    o["row_degree_filter"] = f"""
WITH {COPURCHASE_CTE.strip()}
SELECT src, dst, w FROM (
  SELECT *, COUNT(*) OVER (PARTITION BY src) AS d FROM copurchase
) WHERE d >= 50"""
    o["bernoulli_sample"] = """
SELECT k, l_partkey FROM (
  SELECT (l_orderkey * 8 + l_linenumber) % 99991 AS k, l_partkey FROM lineitem
) WHERE (k * 2654435761) % 100 < 10"""
    o["topk_per_row"] = f"""
WITH {COPURCHASE_CTE.strip()}
SELECT src, dst, w FROM copurchase
QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) <= 3"""
    o["ewise_mult"] = f"""
WITH {_copurchase_half_cte("ca", 0).strip()}, {_copurchase_half_cte("cb", 1).strip()}
SELECT ca.src, ca.dst, ca.w * cb.w AS w
FROM ca JOIN cb ON ca.src = cb.src AND ca.dst = cb.dst"""
    o["ewise_sum"] = f"""
WITH {_copurchase_half_cte("ca", 0).strip()}, {_copurchase_half_cte("cb", 1).strip()}
SELECT src, dst, SUM(w) AS w FROM (
  SELECT * FROM ca UNION ALL SELECT * FROM cb
) GROUP BY 1, 2"""
    o["table_diff"] = f"""
WITH {_copurchase_half_cte("ca", 0).strip()}, {_copurchase_half_cte("cb", 1).strip()}
SELECT ca.* FROM ca ANTI JOIN cb ON ca.src = cb.src AND ca.dst = cb.dst"""
    o["row_selector"] = f"""
WITH {_copurchase_half_cte("ca", 0).strip()}, {_copurchase_half_cte("cb", 1).strip()}
SELECT cb.* FROM cb SEMI JOIN (SELECT DISTINCT src FROM ca) s ON cb.src = s.src"""
    o["spgemm_tablemult"] = f"""
WITH {TRANSITIONS_CTE.strip()}
SELECT a.dst AS src, b.dst AS dst, SUM(a.w * b.w) AS w
FROM trans a JOIN trans b ON a.src = b.src
GROUP BY 1, 2 HAVING SUM(a.w * b.w) != 0"""
    o["spgemm_rowop"] = o["spgemm_tablemult"]
    o["triangle_count"] = f"""
WITH {COPURCHASE_CTE.strip()},
e AS (SELECT src, dst FROM copurchase)
SELECT COUNT(*) AS triangles
FROM e a JOIN e b ON a.dst = b.src JOIN e c ON a.src = c.src AND b.dst = c.dst"""
    o["edge_support"] = f"""
WITH {COPURCHASE_CTE.strip()},
e AS (SELECT src, dst FROM copurchase),
tri AS (
  SELECT a.src AS a, a.dst AS b, b.dst AS c
  FROM e a JOIN e b ON a.dst = b.src JOIN e x ON a.src = x.src AND b.dst = x.dst
),
sup AS (
  SELECT src, dst, COUNT(*) AS support FROM (
    SELECT a AS src, b AS dst FROM tri
    UNION ALL SELECT b, c FROM tri
    UNION ALL SELECT a, c FROM tri
  ) GROUP BY 1, 2
)
SELECT e.src, e.dst, COALESCE(sup.support, 0) AS support
FROM e LEFT JOIN sup ON e.src = sup.src AND e.dst = sup.dst"""
    o["jaccard_lowpass"] = f"""
WITH {COPURCHASE_CTE.strip()}, {SYM_CTE.strip()},
deg0 AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src),
keep AS (SELECT v FROM deg0 WHERE d <= {JACCARD_DEG_CUTOFF}),
kept AS (
  SELECT s.src, s.dst FROM sym s
  SEMI JOIN keep k1 ON s.src = k1.v
  SEMI JOIN keep k2 ON s.dst = k2.v
),
deg AS (SELECT src AS v, CAST(COUNT(*) AS DOUBLE) AS d FROM kept GROUP BY src),
common AS (
  SELECT n1.dst AS u, n2.dst AS v, COUNT(*) AS c
  FROM kept n1 JOIN kept n2 ON n1.src = n2.src AND n1.dst < n2.dst
  GROUP BY 1, 2
)
SELECT common.u AS src, common.v AS dst,
       ROUND(c / (du.d + dv.d - c), 6) AS jaccard
FROM common JOIN deg du ON common.u = du.v JOIN deg dv ON common.v = dv.v"""
    o["adj_bfs_2hop"] = f"""
WITH {COPURCHASE_CTE.strip()}, {SYM_CTE.strip()},
seed AS (SELECT MIN(src) AS s FROM copurchase),
d1 AS (SELECT DISTINCT e.dst AS v FROM sym e JOIN seed ON e.src = seed.s),
d2 AS (
  SELECT DISTINCT e.dst AS v FROM sym e JOIN d1 ON e.src = d1.v
  WHERE e.dst != (SELECT s FROM seed) AND e.dst NOT IN (SELECT v FROM d1)
)
SELECT s AS v, CAST(0 AS INT) AS dist FROM seed
UNION ALL SELECT v, CAST(1 AS INT) FROM d1
UNION ALL SELECT v, CAST(2 AS INT) FROM d2"""
    o["single_bfs_2hop"] = o["adj_bfs_2hop"]
    o["adj_bfs_2hop_gated"] = f"""
WITH {COPURCHASE_CTE.strip()}, {SYM_CTE.strip()},
deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src),
gate AS (SELECT v FROM deg WHERE d <= {BFS_GATE_MAX_DEG}),
seed AS (SELECT MIN(src) AS s FROM copurchase),
d1 AS (
  SELECT DISTINCT e.dst AS v FROM sym e JOIN seed ON e.src = seed.s
  WHERE seed.s IN (SELECT v FROM gate)
),
d2 AS (
  SELECT DISTINCT e.dst AS v FROM sym e
  JOIN (SELECT v FROM d1 WHERE v IN (SELECT v FROM gate)) f ON e.src = f.v
  WHERE e.dst != (SELECT s FROM seed) AND e.dst NOT IN (SELECT v FROM d1)
)
SELECT s AS v, CAST(0 AS INT) AS dist FROM seed
UNION ALL SELECT v, CAST(1 AS INT) FROM d1
UNION ALL SELECT v, CAST(2 AS INT) FROM d2"""
    o["edge_bfs_2hop"] = f"""
WITH {COPURCHASE_CTE.strip()},
seed AS (SELECT MIN(src) AS s FROM copurchase),
d1 AS (SELECT DISTINCT e.dst AS v FROM copurchase e JOIN seed ON e.src = seed.s),
d2 AS (
  SELECT DISTINCT e.dst AS v FROM copurchase e JOIN d1 ON e.src = d1.v
  WHERE e.dst != (SELECT s FROM seed) AND e.dst NOT IN (SELECT v FROM d1)
)
SELECT s AS v, CAST(0 AS INT) AS dist FROM seed
UNION ALL SELECT v, CAST(1 AS INT) FROM d1
UNION ALL SELECT v, CAST(2 AS INT) FROM d2"""
    o["line_graph"] = f"""
WITH {TRANSITIONS_CTE.strip()},
t AS (SELECT DISTINCT src, dst FROM trans),
ends AS (
  SELECT src, dst, src AS shared_v FROM t
  UNION ALL SELECT src, dst, dst AS shared_v FROM t
)
SELECT DISTINCT a.src AS a_src, a.dst AS a_dst, b.src AS b_src, b.dst AS b_dst, a.shared_v
FROM ends a JOIN ends b ON a.shared_v = b.shared_v
WHERE a.src < b.src OR (a.src = b.src AND a.dst < b.dst)"""
    o["ktruss_3"] = _ktruss_sql(k=3, iters=4)
    o["ktruss_edge_3"] = _ktruss_sql(k=3, iters=4)
    o["triangle_count_adjedge"] = o["triangle_count"]
    o["scc_transitions"] = _scc_sql(levels=5)
    o["nmf_w_factor"] = _nmf_sql(iters=2)
    o["assign_topics"] = _nmf_sql(iters=2, project_new=True)
    o["pagerank_5iter"] = _pagerank_sql(5)
    o["connected_components"] = _cc_sql(15)
    o["label_propagation_3iter"] = _lp_sql(3)
    o["count_entries_rows"] = f"""
WITH {COPURCHASE_CTE.strip()}
SELECT COUNT(*) AS n_entries, COUNT(DISTINCT src) AS n_rows FROM copurchase"""
    o["tfidf"] = """
WITH toks AS (
  SELECT doc_id AS id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT id) AS df FROM toks GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
SELECT tf.id, tf.term, tf.tf,
       ROUND(LN(1 + tf.tf) * LN(nn.n / df.df), 6) AS tfidf
FROM tf JOIN df ON tf.term = df.term CROSS JOIN nn"""
    o["exact_dedup"] = """
SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
FROM documents GROUP BY 1"""
    # composed two-stage dedup: exact survivors -> LSH candidates -> exact
    # Jaccard verify >= 0.8 -> drop the larger id of each verified pair
    o["dedup_keep_set"] = """
WITH exact_keep AS MATERIALIZED (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
docs2 AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM documents d JOIN exact_keep USING (doc_id)
),
toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS t FROM docs2),
sh AS (
  SELECT DISTINCT id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t) - 1) ELSE [] END) AS u(i)
),
sigs AS MATERIALIZED (
  SELECT id,
         MIN(md5('0:' || shingle)) AS s0, MIN(md5('1:' || shingle)) AS s1,
         MIN(md5('2:' || shingle)) AS s2, MIN(md5('3:' || shingle)) AS s3,
         MIN(md5('4:' || shingle)) AS s4, MIN(md5('5:' || shingle)) AS s5,
         MIN(md5('6:' || shingle)) AS s6, MIN(md5('7:' || shingle)) AS s7
  FROM sh GROUP BY id),
bandsx AS MATERIALIZED (
  SELECT id, 0 AS band, md5(s0 || '|' || s1) AS bh FROM sigs
  UNION ALL SELECT id, 1, md5(s2 || '|' || s3) FROM sigs
  UNION ALL SELECT id, 2, md5(s4 || '|' || s5) FROM sigs
  UNION ALL SELECT id, 3, md5(s6 || '|' || s7) FROM sigs),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bandsx a JOIN bandsx b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT cd.id_a, cd.id_b, COUNT(*) AS cnt
  FROM cand cd
  JOIN sh a ON a.id = cd.id_a
  JOIN sh b ON b.id = cd.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
verified AS (
  SELECT common.id_b
  FROM common JOIN sizes sa ON common.id_a = sa.id JOIN sizes sb ON common.id_b = sb.id
  WHERE cnt / (sa.sz + sb.sz - cnt) >= 0.8)
SELECT doc_id AS keep_id FROM docs2
WHERE doc_id NOT IN (SELECT id_b FROM verified)"""
    # transitive-closure dup clusters: exact star edges ∪ verified near pairs,
    # component min-id via recursive reachability (the Spark side runs the
    # engine's own connected_components over the same edge set)
    o["dedup_clusters"] = """
WITH RECURSIVE exact_keep AS MATERIALIZED (
  SELECT md5(text) AS dg, MIN(doc_id) AS kid FROM documents GROUP BY 1
),
exact_edges AS MATERIALIZED (
  SELECT ek.kid AS a, d.doc_id AS b
  FROM documents d JOIN exact_keep ek ON md5(d.text) = ek.dg
  WHERE d.doc_id != ek.kid
),
docs2 AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM documents d JOIN exact_keep ek ON d.doc_id = ek.kid
),
toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS t FROM docs2),
sh AS (
  SELECT DISTINCT id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t) - 1) ELSE [] END) AS u(i)
),
sigs AS MATERIALIZED (
  SELECT id,
         MIN(md5('0:' || shingle)) AS s0, MIN(md5('1:' || shingle)) AS s1,
         MIN(md5('2:' || shingle)) AS s2, MIN(md5('3:' || shingle)) AS s3,
         MIN(md5('4:' || shingle)) AS s4, MIN(md5('5:' || shingle)) AS s5,
         MIN(md5('6:' || shingle)) AS s6, MIN(md5('7:' || shingle)) AS s7
  FROM sh GROUP BY id),
bandsx AS MATERIALIZED (
  SELECT id, 0 AS band, md5(s0 || '|' || s1) AS bh FROM sigs
  UNION ALL SELECT id, 1, md5(s2 || '|' || s3) FROM sigs
  UNION ALL SELECT id, 2, md5(s4 || '|' || s5) FROM sigs
  UNION ALL SELECT id, 3, md5(s6 || '|' || s7) FROM sigs),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bandsx a JOIN bandsx b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT cd.id_a, cd.id_b, COUNT(*) AS cnt
  FROM cand cd
  JOIN sh a ON a.id = cd.id_a
  JOIN sh b ON b.id = cd.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
near_edges AS MATERIALIZED (
  SELECT common.id_a AS a, common.id_b AS b
  FROM common JOIN sizes sa ON common.id_a = sa.id JOIN sizes sb ON common.id_b = sb.id
  WHERE cnt / (sa.sz + sb.sz - cnt) >= 0.8),
pairs AS MATERIALIZED (
  SELECT a, b FROM exact_edges UNION SELECT b, a FROM exact_edges
  UNION SELECT a, b FROM near_edges UNION SELECT b, a FROM near_edges),
reach AS (
  SELECT doc_id AS id, doc_id AS lbl FROM documents
  UNION
  SELECT p.b AS id, r.lbl FROM pairs p JOIN reach r ON r.id = p.a
)
SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id"""
    o["ngram_jaccard_pairs"] = f"""
WITH {SHINGLES_CTE.strip()},
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE c / (sa.sz + sb.sz - c) >= 0.1"""
    o["minhash_signatures"] = f"""
WITH {SHINGLES_CTE.strip()}
SELECT id,
       MIN(md5('0:' || shingle)) AS sig_0,
       MIN(md5('1:' || shingle)) AS sig_1,
       MIN(md5('2:' || shingle)) AS sig_2,
       MIN(md5('3:' || shingle)) AS sig_3
FROM sh GROUP BY id"""
    o["minhash_lsh_pairs"] = f"""
WITH {SHINGLES_CTE.strip()},
sigs AS MATERIALIZED (
  SELECT id,
         MIN(md5('0:' || shingle)) AS s0, MIN(md5('1:' || shingle)) AS s1,
         MIN(md5('2:' || shingle)) AS s2, MIN(md5('3:' || shingle)) AS s3,
         MIN(md5('4:' || shingle)) AS s4, MIN(md5('5:' || shingle)) AS s5,
         MIN(md5('6:' || shingle)) AS s6, MIN(md5('7:' || shingle)) AS s7
  FROM sh GROUP BY id),
bandsx AS MATERIALIZED (
  SELECT id, 0 AS band, md5(s0 || '|' || s1) AS bh FROM sigs
  UNION ALL SELECT id, 1, md5(s2 || '|' || s3) FROM sigs
  UNION ALL SELECT id, 2, md5(s4 || '|' || s5) FROM sigs
  UNION ALL SELECT id, 3, md5(s6 || '|' || s7) FROM sigs)
SELECT a.id AS id_a, b.id AS id_b, COUNT(DISTINCT a.band) AS n_bands
FROM bandsx a JOIN bandsx b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
GROUP BY 1, 2"""
    o["simhash"] = _simhash_sql(32)
    o["simhash_pairs"] = _simhash_pairs_sql(bits=32, bands=4, max_hamming=12)
    o["doc_fingerprint"] = """
SELECT doc_id AS id,
       array_to_string(
         list_slice(
           list_sort(list_transform(
             range(1, greatest(len(t) - 4, 1) + 1),
             i -> md5(array_to_string(list_slice(t, i, i + 4), ' ')))),
           1, 4), '|') AS fingerprint
FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)"""
    o["token_count"] = """
SELECT doc_id AS id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
FROM documents"""
    # same alternation as pipeline.text.BPEISH — lookahead-free on purpose so
    # Java regex (Spark) and RE2 (DuckDB) count identical matches
    o["token_count_bpeish"] = """
SELECT doc_id AS id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_pieces
FROM documents"""
    o["lang_id"] = _lang_id_sql()
    o["text_quality"] = _text_quality_sql()
    o["cosine_topk"] = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings ORDER BY vec_id LIMIT 5
),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
)
SELECT query_id, vec_id, cosine FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) <= 5"""
    o["ann_candidates"] = _ann_sql(n_planes=8, n_tables=3)
    o["ivf_topk"] = _ivf_sql(n_cells=8, iters=2, n_probe=3, k=5)
    # embedding-cosine near-dup: same LSH candidate construction, thresholded,
    # then each duplicate maps to its smallest qualifying neighbor. Threshold
    # 0.35 is non-vacuous on the synthetic embeddings (max pairwise cosine at
    # sf0.01 is 0.513 — there are no planted identical vectors).
    o["embedding_near_dup"] = f"""
WITH cand AS MATERIALIZED ({_ann_sql(n_planes=8, n_tables=3)}),
dup AS (SELECT * FROM cand WHERE cosine >= 0.35),
rep AS (SELECT id_b, MIN(id_a) AS dup_of FROM dup GROUP BY id_b)
SELECT r.id_b AS vec_id, r.dup_of, d.cosine
FROM rep r JOIN dup d ON r.id_b = d.id_b AND r.dup_of = d.id_a"""
    o["bray_curtis"] = """
WITH sub AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> abs(x)) AS v
  FROM embeddings WHERE vec_id % 5 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(1 - 2 * list_sum(list_transform(range(1, len(a.v) + 1),
                                             i -> least(a.v[i], b.v[i])))
                 / (list_sum(a.v) + list_sum(b.v)), 6) AS bray_curtis
FROM sub a JOIN sub b ON a.vec_id < b.vec_id"""
    return o


def _text_quality_sql() -> str:
    from graphulo_spark.pipeline.text import LANG_PROFILES

    stop = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    return f"""
WITH base AS (
  SELECT doc_id AS id, text,
         regexp_split_to_array(trim(text), '\\s+') AS t,
         length(text) AS n_chars
  FROM documents
),
m AS (
  SELECT id, n_chars,
         len(t) AS n_tokens,
         length(regexp_replace(text, '[^\\.\\,\\;\\:\\!\\?]', '', 'g'))
           / greatest(n_chars, 1) AS punct_ratio,
         len(list_filter(t, x -> lower(x) IN ({stop}))) / CAST(greatest(len(t), 1) AS DOUBLE) AS stop_ratio,
         n_chars / CAST(greatest(len(t), 1) AS DOUBLE) AS mean_tok
  FROM base
)
SELECT id, n_chars, CAST(n_tokens AS INT) AS n_tokens,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stop_ratio, 6) AS stopword_ratio,
       ROUND(mean_tok, 6) AS mean_token_len,
       ROUND(CASE WHEN n_tokens < 5 THEN 0.0
                  WHEN mean_tok > 12 THEN 0.2
                  ELSE least(1.0, 0.4 + stop_ratio * 2 + least(punct_ratio * 5, 0.2))
             END, 6) AS quality
FROM m"""


def _lang_id_sql() -> str:
    from graphulo_spark.pipeline.text import LANG_PROFILES

    struct_rows = []
    for lang, words in LANG_PROFILES.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        struct_rows.append(
            f"SELECT id, '{lang}' AS lang, len(list_filter(t, x -> x IN ({inlist}))) AS hits FROM toks"
        )
    unioned = "\nUNION ALL ".join(struct_rows)
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
),
hits AS ({unioned}),
best AS (
  SELECT id, lang, hits FROM hits
  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY hits DESC, lang DESC) = 1
),
tot AS (SELECT id, SUM(hits) AS total FROM hits GROUP BY id)
SELECT b.id,
       CASE WHEN b.hits = 0 THEN 'und' ELSE b.lang END AS lang_pred,
       CASE WHEN t.total = 0 THEN 0.0 ELSE ROUND(b.hits / t.total, 6) END AS lang_score
FROM best b JOIN tot t ON b.id = t.id"""
