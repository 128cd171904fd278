"""Training-data pipeline ops on the driver-generated documents/embeddings
tables plus synthetic corner cases."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from graphulo_spark.pipeline import (
    cosine_topk,
    doc_fingerprint,
    exact_dedup,
    lang_id,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_score,
    simhash,
    token_count,
)
from graphulo_spark.pipeline.similarity import ann_candidates, embedding_near_dup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def dupdocs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog tonight"), # near dup
        (4, "completely different text about spark engines and graphs"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(dupdocs):
    d = exact_dedup(dupdocs).collect()
    by_keep = {r["keep_id"]: r["n_dupes"] for r in d}
    assert by_keep == {1: 2, 3: 1, 4: 1}


def test_shingles_short_docs_yield_empty(spark):
    """Docs with fewer than n tokens produce ZERO shingles instead of
    crashing slice() with start=0 (the sequence(1,0)=[1,0] trap), and the
    whole-corpus passes composed over shingles() survive short/empty docs."""
    from graphulo_spark.pipeline.dedup import dedup_keep_set, shingles

    rows = [
        (1, ""),                       # empty
        (2, "one"),                    # 1 token
        (3, "just two"),               # 2 tokens < n=3
        (4, "exactly three tokens"),   # boundary: exactly one shingle
        (5, "the quick brown fox jumps"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["shingle"] for r in shingles(docs).collect()}
    assert set(got) == {4, 5}
    # the composed corpus pass must also run end-to-end over the short docs
    keep = {r["keep_id"] for r in dedup_keep_set(docs, threshold=0.8).collect()}
    assert keep == {1, 2, 3, 4, 5}  # nothing near-dup here; all survive


def test_ngram_jaccard_near_dup(dupdocs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(dupdocs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_identical_docs_share_all_bands(dupdocs):
    sigs = {r["id"]: [r[f"sig_{i}"] for i in range(8)] for r in minhash_signatures(dupdocs).collect()}
    assert sigs[1] == sigs[2]
    pairs = {(r["id_a"], r["id_b"]): r["n_bands"] for r in minhash_lsh_pairs(dupdocs).collect()}
    assert pairs[(1, 2)] == 4  # all bands collide for identical docs


def test_minhash_on_real_docs(docs):
    # deterministic, runs at 500-doc scale, no crash, plausible candidate count
    pairs = minhash_lsh_pairs(docs, k=8, bands=4)
    assert pairs.count() == pairs.count()


def test_dedup_fails_soft_without_rdd(docs, monkeypatch):
    """Spark Connect exposes no RDD: the input-parallelism guard in front of
    shingling and SimHash must step aside instead of raising, and the
    outputs must not change."""
    from pyspark.errors import PySparkNotImplementedError

    def outputs():
        pairs = minhash_lsh_pairs(docs, k=8, bands=4).collect()
        return sorted(map(tuple, pairs)), sorted(map(tuple, simhash(docs).collect()))

    want = outputs()

    def no_rdd(self):
        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED", messageParameters={"feature": "rdd"}
        )

    monkeypatch.setattr(type(docs), "rdd", property(no_rdd))
    with pytest.raises(PySparkNotImplementedError):
        docs.rdd  # the patch reaches the session's DataFrame class
    assert outputs() == want


def test_simhash_near_dup_small_hamming(spark, dupdocs):
    sh = {r["id"]: r["simhash"] for r in simhash(dupdocs).collect()}
    assert sh[1] == sh[2]
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    ham14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham13 < ham14


def test_token_count(spark):
    d = spark.createDataFrame([(1, "a b  c"), (2, "single")], "doc_id long, text string")
    got = {r["id"]: r["n_tokens"] for r in token_count(d).collect()}
    assert got == {1: 3, 2: 1}


def test_quality_score(docs):
    q = quality_score(docs)
    rows = q.collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
    assert all(r["n_chars"] > 0 for r in rows)


def test_lang_id_english(spark):
    d = spark.createDataFrame(
        [(1, "the cat and the dog of the house is in that box"),
         (2, "der hund und die katze ist nicht ein problem zu")],
        "doc_id long, text string",
    )
    got = {r["id"]: r["lang_pred"] for r in lang_id(d).collect()}
    assert got == {1: "en", 2: "de"}


def test_fingerprint_stable_under_small_edit(dupdocs):
    fp = {r["id"]: r["fingerprint"] for r in doc_fingerprint(dupdocs, n=3, k=2).collect()}
    assert fp[1] == fp[2]
    # near-dup shares at least one of the two min-hashes
    assert set(fp[1].split("|")) & set(fp[3].split("|"))


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_topk(emb, emb.filter("vec_id = 1"), k=2).collect()
    assert [r["vec_id"] for r in got] == [2, 4]
    assert abs(got[0]["cosine"] - 0.9 / math.sqrt(0.82)) < 1e-5


def test_cosine_topk_real_embeddings(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.limit(3)
    got = cosine_topk(emb, q, k=5)
    rows = got.collect()
    assert len(rows) == 15
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in rows)


def test_ann_lsh_recall_vs_brute(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    brute = cosine_topk(emb, emb.limit(10), k=3)
    cands = ann_candidates(emb, n_planes=4)
    cand_pairs = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in cands.collect()}
    top = [(min(r["query_id"], r["vec_id"]), max(r["query_id"], r["vec_id"])) for r in brute.collect()]
    recall = sum(1 for p in top if p in cand_pairs) / len(top)
    assert recall >= 0.5  # 4 planes on clustered embeddings: most neighbors share a bucket


def test_ivf_topk_recall_vs_brute(spark):
    """IVF with a wide probe must recover most exact top-3 neighbors; probing
    ALL cells must equal the exact scan (IVF converges to brute force)."""
    from graphulo_spark.pipeline.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200).cache()
    q = emb.orderBy("vec_id").limit(5)
    brute = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=3).collect()}
    ivf = {(r["query_id"], r["vec_id"])
           for r in ivf_topk(emb, q, k=3, n_cells=8, n_probe=4, iters=1).collect()}
    assert len(ivf & brute) / len(brute) >= 0.6  # clustered embeddings: most hit
    full = {(r["query_id"], r["vec_id"])
            for r in ivf_topk(emb, q, k=3, n_cells=8, n_probe=8, iters=1).collect()}
    assert full == brute


def test_ivf_assign_join_equals_literal(spark, monkeypatch):
    """The broadcast-join assignment path (thousands-of-cells regime) must be
    bitwise-identical to the literal-expression path: same cells for every
    base vector, same probed cells, same final top-k rows."""
    from graphulo_spark.pipeline import similarity
    from graphulo_spark.pipeline.similarity import (
        _ivf_assign,
        _ivf_assign_join,
        ivf_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200).cache()
    cents = ivf_centroids(emb, n_cells=8, iters=1)
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    lit_cells = {r["vec_id"]: r["cell"] for r in _ivf_assign(e, cents).collect()}
    join_cells = {r["vec_id"]: r["cell"] for r in _ivf_assign_join(e, cents).collect()}
    assert lit_cells == join_cells
    q = emb.orderBy("vec_id").limit(5)
    kw = dict(k=3, n_cells=8, n_probe=3, iters=1)
    lit = sorted(map(tuple, ivf_topk(emb, q, **kw).collect()))
    with monkeypatch.context() as m:  # cutoff 0: the join path at 8 cells
        m.setattr(similarity, "IVF_LITERAL_MAX_CELLS", 0)
        jn = sorted(map(tuple, ivf_topk(emb, q, **kw).collect()))
    assert lit == jn and len(lit) == 15
    # the regime the join path exists for: past the cutoff (assignment
    # switches to join, including inside ivf_centroids' Lloyd refinement) —
    # equality must hold there too, with real tie pressure from many
    # near-duplicate centroids
    big = [[round(x, 6) for x in r["v"]] for r in e.limit(66).collect()]
    lit66 = {r["vec_id"]: r["cell"] for r in _ivf_assign(e, big).collect()}
    join66 = {r["vec_id"]: r["cell"] for r in _ivf_assign_join(e, big).collect()}
    assert lit66 == join66


def test_ivf_auto_many_cells_end_to_end(spark, monkeypatch):
    """Past IVF_LITERAL_MAX_CELLS (66 > 64 cells), assignment (and
    ivf_centroids' Lloyd step) must route through the join path,
    deterministically, end to end — the regime where a literal-expression
    plan would blow up — and agree with the literal path forced by a large
    cutoff."""
    from graphulo_spark.pipeline import similarity
    from graphulo_spark.pipeline.similarity import ivf_centroids, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(150).cache()
    cents = ivf_centroids(emb, n_cells=66, iters=1)
    assert len(cents) == 66 and all(len(c) == 64 for c in cents)
    assert cents == ivf_centroids(emb, n_cells=66, iters=1)  # deterministic
    q = emb.orderBy("vec_id").limit(3)
    kw = dict(k=3, n_cells=66, n_probe=8, iters=1)
    joins, real_assign_join = [], similarity._ivf_assign_join

    def counting_assign_join(e, c):
        joins.append(len(c))
        return real_assign_join(e, c)

    with monkeypatch.context() as m:
        m.setattr(similarity, "_ivf_assign_join", counting_assign_join)
        join = sorted(map(tuple, ivf_topk(emb, q, **kw).collect()))
    assert joins and set(joins) == {66}  # Lloyd step and base assignment
    with monkeypatch.context() as m:  # large cutoff: the literal path at 66 cells
        m.setattr(similarity, "IVF_LITERAL_MAX_CELLS", 1_000)
        lit = sorted(map(tuple, ivf_topk(emb, q, **kw).collect()))
    assert join == lit and len(join) == 9


def test_embedding_near_dup_representatives(spark):
    # 1 ≈ 2 ≈ 3 (near-identical cluster), 4 orthogonal. With few planes every
    # cluster pair shares a bucket; reps must be the smallest qualifying
    # neighbor id, and the survivor (4) must emit no row.
    rows = [
        (1, [1.0, 0.01]), (2, [1.0, 0.011]), (3, [1.0, 0.012]), (4, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["dup_of"] for r in
           embedding_near_dup(emb, threshold=0.99, n_planes=2, n_tables=2).collect()}
    assert got == {2: 1, 3: 1}


def test_bray_curtis(spark):
    from graphulo_spark.pipeline.similarity import bray_curtis_pairs

    rows = [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.0]), (3, [3.0, 0.0, 0.0])]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]): r["bray_curtis"] for r in bray_curtis_pairs(v).collect()}
    assert abs(got[(1, 2)]) < 1e-12                      # identical -> 0
    assert abs(got[(1, 3)] - (1 - 2 * 1.0 / 9.0)) < 1e-12  # min-overlap 1, totals 6+3


def test_bray_curtis_within_buckets_python_oracle(spark):
    """r6 (VERDICT r5 #3): the bucketed path must emit EXACTLY the pairs that
    share an LSH bucket, with values bit-equal to a pure-python Bray-Curtis
    over python-recomputed buckets (the hyperplane arithmetic is portable
    integer math, reproduced here from first principles)."""
    import random

    from graphulo_spark.pipeline.similarity import (
        _KNUTH,
        _MOD,
        bray_curtis_within_buckets,
    )

    rng = random.Random(11)
    rows = [(i, [round(rng.random() * 5, 3) for _ in range(6)]) for i in range(40)]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n_planes, table = 4, 1

    def bucket(vec):
        b = 0
        for p in range(n_planes):
            salt = (97 * table + p) * 40503
            dot = sum(
                x * ((((d * _KNUTH + salt) % _MOD) - _MOD / 2) / (_MOD / 2.0))
                for d, x in enumerate(vec)
            )
            if dot >= 0:
                b += 1 << p
        return b

    def bc(a, b):
        summin = sum(min(x, y) for x, y in zip(a, b))
        return 1 - 2 * summin / (sum(a) + sum(b))

    bks = {i: bucket(vec) for i, vec in rows}
    want = {
        (i, j): bc(a, b)
        for i, a in rows
        for j, b in rows
        if i < j and bks[i] == bks[j]
    }
    got = {
        (r["id_a"], r["id_b"]): r["bray_curtis"]
        for r in bray_curtis_within_buckets(v, n_planes=n_planes, table=table).collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-12 for k in want)
    assert 0 < len(want) < len(rows) * (len(rows) - 1) // 2  # genuinely bucketed


def test_simhash_pairs_candidates(spark, dupdocs):
    """Identical docs must surface at Hamming 0 through the band join; the
    unrelated doc must not pair with them at a small threshold."""
    from graphulo_spark.pipeline.dedup import simhash_pairs

    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_pairs(dupdocs, bits=32, bands=4, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0            # exact dup: Hamming 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 10  # near dup: small distance
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_xxhash_production_path(dupdocs):
    """The xxhash64 signature family (production path, no md5 CPU) finds the
    same dups: identical docs share every band, near-dups share >= 1."""
    pairs = {(r["id_a"], r["id_b"]): r["n_bands"] for r in
             minhash_lsh_pairs(dupdocs, k=8, bands=4, hash_family="xxhash64").collect()}
    assert pairs.get((1, 2)) == 4
    assert pairs.get((1, 3), 0) >= 1


def test_token_count_bpeish_golden(spark):
    """Pre-tokenizer piece counts on known strings: letter runs, digit runs,
    one piece per punctuation mark."""
    from graphulo_spark.pipeline.text import token_count_bpeish

    rows = [
        (1, "don't"),            # don | ' | t
        (2, "2026-08-17"),       # 2026 | - | 08 | - | 17
        (3, "hello world"),      # hello | world
        (4, ""),                 # nothing
        (5, "a1b2!"),            # a | 1 | b | 2 | !
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["n_pieces"] for r in token_count_bpeish(df).collect()}
    assert got == {1: 3, 2: 5, 3: 2, 4: 0, 5: 5}


def test_token_count_bpeish_matches_python_re(spark):
    """Third-engine cross-check of the BPEISH pattern (Java regex on Spark,
    RE2 on the DuckDB oracle, python re here): identical counts on random
    strings over an adversarial alphabet incl. non-ASCII letters, runs of
    punctuation, and mixed whitespace."""
    import random
    import re

    from graphulo_spark.pipeline.text import BPEISH, token_count_bpeish

    rnd = random.Random(42)
    alphabet = "abZ19 2,.!?-_ \t\nüé"
    rows = [
        (i, "".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 60))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["n_pieces"] for r in token_count_bpeish(df).collect()}
    want = {i: len(re.findall(BPEISH, s)) for i, s in rows}
    assert got == want


def test_dedup_clusters_transitive_closure(spark):
    """Chain A~B~C where A~C is BELOW threshold: closure puts all three in
    one cluster (greedy keep-set semantics would not transfer ownership).
    Exact dup rides a star edge; isolated doc keeps its own id."""
    from graphulo_spark.pipeline import dedup_clusters

    t = "t1 t2 t3 t4 t5 t6 t7 t8 t9"
    rows = [
        (1, f"{t} end_a"),            # A
        (2, f"{t} end_b"),            # B: jacc(A,B) = 7/9 ≥ 0.7
        (3, f"start_c {t[3:]} end_b"),  # C: jacc(B,C) = 7/9; jacc(A,C) = 6/10 < 0.7
        (5, f"{t} end_a"),            # exact dup of A
        (6, "completely different text about spark engines and graphs"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs.sparkSession, docs, threshold=0.7, bands=8).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 6: 6}
    # sanity vs the greedy pass: it also drops 2 and 5, but can only say
    # WHICH doc to keep, not which cluster 3 belongs to — the per-doc
    # cluster assignment (3 → 1 through the B-hop) is the closure's delta
    from graphulo_spark.pipeline import dedup_keep_set

    keep = {r["keep_id"] for r in dedup_keep_set(docs, threshold=0.7, bands=8).collect()}
    assert 1 in keep and 6 in keep and 2 not in keep and 5 not in keep


def test_embedding_dup_clusters_closure(spark):
    """Chain in embedding space: cos(A,B), cos(B,C) clear the threshold,
    cos(A,C) does not — the closure clusters {A,B,C}; the far vector stays
    a singleton keeper."""
    import math

    from graphulo_spark.pipeline.similarity import embedding_dup_clusters

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [(1, vec(0)), (2, vec(20)), (3, vec(40)), (9, vec(180))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in embedding_dup_clusters(
            spark, emb, threshold=0.9, n_planes=1, n_tables=6
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_dedup_keep_set_composition(spark, dupdocs):
    """The composed pass end to end, including its recall contract:
    - 2 always dies in the exact stage (byte-identical dup of 1).
    - 4 always survives.
    - 3 (trigram jaccard vs 1 = 7/9 ~= 0.778) dies only when BOTH the LSH
      stage proposes the pair AND the verify threshold clears: at the
      default 2-sig bands the (1,3) pair happens to miss every band (the
      documented LSH recall trade), so 3 survives even at threshold 0.7;
      with single-sig bands (bands=k, max recall) it is proposed, verified,
      and dropped at 0.7 — but kept again at 0.9 (verification rejects)."""
    from graphulo_spark.pipeline import dedup_keep_set

    assert {r["keep_id"] for r in dedup_keep_set(dupdocs, threshold=0.7).collect()} == {1, 3, 4}
    assert {r["keep_id"] for r in
            dedup_keep_set(dupdocs, threshold=0.7, bands=8).collect()} == {1, 4}
    assert {r["keep_id"] for r in
            dedup_keep_set(dupdocs, threshold=0.9, bands=8).collect()} == {1, 3, 4}
