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
from graphulo_spark.pipeline.multimodal import decode_and_featurize, sample_frames, synthesize_media
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


def test_multimodal_plumbing(spark):
    media = synthesize_media(spark, 60)
    feats = decode_and_featurize(media, fake=True, feat_dim=8)
    rows = feats.collect()
    assert len(rows) == 60
    assert all(len(r["feat"]) == 8 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["feat"])
    # deterministic across runs
    again = decode_and_featurize(media, fake=True, feat_dim=8).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))
    # without codec libs the real path is an explicit, named stub
    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(Exception, match="NotImplementedError|pillow|codec"):
            decode_and_featurize(media.filter("kind = 'image'"), fake=False).collect()


def test_multimodal_real_image_decode(spark):
    """Real decode when pillow is importable (skips in codec-less containers):
    a genuine PNG payload goes through PIL inside the Arrow batch and comes
    out as a normalized grayscale-thumbnail feature vector."""
    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        pytest.skip("pillow not installed in this container — fake path covers plumbing")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (16, 16), (128, 64, 32)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()), (16, 16, None, None, "png"))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,format:string>",
    )
    rows = decode_and_featurize(media, fake=False, feat_dim=4).collect()
    assert len(rows) == 1 and len(rows[0]["feat"]) == 4
    assert all(0.0 <= v <= 1.0 for v in rows[0]["feat"])


def test_multimodal_real_decode_stdlib_codecs(spark):
    """REAL (non-fake) decode in this codec-less container: genuine PPM/BMP
    images through the pure-numpy decoders and genuine PCM WAV audio through
    stdlib ``wave`` — inside the Arrow-batched mapInPandas path, results
    checked against a local decode of the same payloads."""
    import io
    import wave as wave_mod

    import numpy as np

    from graphulo_spark.pipeline.multimodal import (
        _decode_bmp_numpy,
        _decode_ppm_numpy,
        _decode_wav_stdlib,
        synthesize_real_media,
    )

    media = synthesize_real_media(spark, 9)
    rows = decode_and_featurize(media, fake=False, feat_dim=4).collect()
    assert len(rows) == 9
    by_id = {r["media_id"]: r for r in rows}
    # recompute locally from the same deterministic payloads
    local = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, r in by_id.items():
        buf = local[mid]
        if buf[:2] == b"P6":
            want = _decode_ppm_numpy(buf, 4)
        elif buf[:2] == b"BM":
            want = _decode_bmp_numpy(buf, 4)
        else:
            assert buf[:4] == b"RIFF"
            want = _decode_wav_stdlib(buf, 4)
        assert np.allclose(r["feat"], want), mid
    # audio RMS of a pure sine ≈ amplitude/sqrt(2)
    wavs = [r for r in rows if r["kind"] == "audio"]
    assert wavs and all(abs(v - 0.5 / np.sqrt(2)) < 0.05 for r in wavs for v in r["feat"])


def test_video_real_decode_and_frame_extraction(spark):
    """REAL video decode in this codec-less container: genuine uncompressed
    BI_RGB AVI payloads through the pure-numpy RIFF walker — frames recovered
    pixel-exact, extract_frames emits the same indices sample_frames plans,
    and decode_and_featurize(fake=False) covers the video kind."""
    import numpy as np

    from graphulo_spark.pipeline.multimodal import (
        _avi_bytes,
        _video_frames_avi_numpy,
        extract_frames,
        synthesize_real_media,
    )

    # round-trip: writer → parser is pixel-exact
    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8) for _ in range(4)]
    got = _video_frames_avi_numpy(_avi_bytes(frames))
    assert len(got) == 4
    for a, b in zip(frames, got):
        assert np.array_equal(a, b)

    # a structurally-valid AVI with zero frames (strf header, empty movi)
    # is a named decode error, not an opaque np.stack failure
    import struct

    from graphulo_spark.pipeline.multimodal import _video_frames

    hdr = struct.pack("<IiiHHI", 40, 5, 6, 1, 24, 0) + b"\x00" * 20
    strf = b"strf" + struct.pack("<I", len(hdr)) + hdr
    body = b"AVI " + strf
    with pytest.raises(ValueError, match="zero frames"):
        _video_frames(b"RIFF" + struct.pack("<I", len(body)) + body)

    media = synthesize_real_media(spark, 12, include_video=True)  # ids 3,7,11 video
    vids = {r["media_id"]: bytes(r["payload"]) for r in media.collect() if r["kind"] == "video"}
    assert set(vids) == {3, 7, 11}
    assert all(b[:4] == b"RIFF" and b[8:12] == b"AVI " for b in vids.values())

    # the decode path covers video end-to-end inside mapInPandas
    feats = decode_and_featurize(media, fake=False, feat_dim=4).collect()
    assert len(feats) == 12
    assert all(len(r["feat"]) == 4 for r in feats)

    # extract_frames: pixel-exact against a local decode, indices == plan
    ex = extract_frames(media, every_n=2).collect()
    by_key = {(r["media_id"], r["frame_idx"]): r for r in ex}
    planned = {(r["media_id"], r["frame_idx"]) for r in sample_frames(media, every_n=2).collect()}
    assert set(by_key) == planned
    for (mid, idx), r in by_key.items():
        want = _video_frames_avi_numpy(vids[mid])[idx]
        h, w = want.shape[0], want.shape[1]
        assert (r["width"], r["height"]) == (w, h)
        assert bytes(r["payload"]) == b"P6\n%d %d\n255\n" % (w, h) + want.tobytes()


def test_sample_frames(spark):
    media = synthesize_media(spark, 30)
    fr = sample_frames(media, every_n=50).collect()
    assert all(r["frame_idx"] % 50 == 0 for r in fr)
    assert len(fr) > 0


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


def test_resize_images_real_payloads(spark):
    """Resize on genuine PPM/BMP payloads in this codec-less container:
    fixed-shape PPM out, nearest-neighbor pixels exactly reproducible from
    the source array, deterministic across runs."""
    import numpy as np

    from graphulo_spark.pipeline.multimodal import (
        _rgb_any,
        _rgb_ppm_numpy,
        resize_images,
        synthesize_real_media,
    )

    media = synthesize_real_media(spark, 9)   # 6 images (PPM + BMP), 3 WAVs
    out = resize_images(media, width=8, height=6).collect()
    assert len(out) == 6  # audio rows filtered out
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()
           if r["kind"] == "image"}
    for r in out:
        assert (r["width"], r["height"]) == (8, 6)
        got = _rgb_ppm_numpy(bytes(r["payload"]))
        assert got.shape == (6, 8, 3)
        rgb = _rgb_any(src[r["media_id"]])
        yi = np.arange(6) * rgb.shape[0] // 6
        xi = np.arange(8) * rgb.shape[1] // 8
        assert np.array_equal(got, rgb[yi][:, xi])


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
