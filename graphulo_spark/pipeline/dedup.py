"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale shapes (the part that matters at 100 TB):
- exact:     one hash-groupBy — shuffles (digest, id) pairs only, never text.
- n-gram:    explode shingles → self-join on shingle → count; the join is on
             the shingle hash (a near-uniform key), so no skew; a frequency
             cap drops stop-shingles that would otherwise produce quadratic
             candidate blowup.
- MinHash:   signature per doc (k md5-min-hashes over shingles), banded LSH:
             candidates only within equal band-hash buckets — the classic
             sublinear near-dup path.
- SimHash:   signature via per-token md5 bit votes; candidate pairs from
             equal bit-bands (pigeonhole: Hamming < bands ⇒ ≥1 band equal),
             ranked by exact Hamming distance — see simhash_pairs.

Hash portability: min-of-md5-hex over salted shingles is a valid min-hash
family (lexicographic min over a uniformly distributed hex string) and is
reproducible in any engine with md5 — the DuckDB oracle runs the same SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WS = r"\s+"


def _spread(docs: DataFrame) -> DataFrame:
    """Input-parallelism guard (guide §2.5: one huge unsplittable input —
    repartition immediately after the read). A small corpus often arrives as
    a single unsplittable parquet task (one file, one row group), and then
    every CPU-heavy expression upstream of the first exchange — shingle
    construction, per-shingle hashing, token bit votes — runs on ONE core
    regardless of cluster size; the bytes are tiny precisely because the
    compute-per-byte is enormous, so AQE's byte-based coalescing cannot see
    the problem either. When the input's partition count is below the
    session's parallelism, pay one round-robin exchange of the raw doc rows
    (deterministic: sortBeforeRepartition is on by default) to unlock every
    core. At corpus scale the scan already carries >= parallelism partitions
    and this is an exact no-op. Only order-independent consumers (min/count
    aggregates, equi-joins) sit downstream in this module, so results are
    unchanged by construction. On Spark Connect, which exposes neither the
    SparkContext nor the RDD, ``docs`` passes through unchanged."""
    try:
        target = docs.sparkSession.sparkContext.defaultParallelism
        spread = docs.rdd.getNumPartitions() < target
    except (AttributeError, NotImplementedError):  # Spark Connect
        return docs
    return docs.repartition(target) if spread else docs


def shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    *,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles: DataFrame[id, shingle] (distinct per doc).

    Tokenizes trim()med text: split() keeps leading/trailing empty tokens,
    which the DuckDB oracle (SHINGLES_CTE trims) never sees.

    Docs with fewer than n tokens yield ZERO shingles (empty array) — without
    the guard, sequence(1, 0) = [1, 0] descends and slice(toks, 0, n) raises
    INVALID_PARAMETER_VALUE.START; the oracle's CASE ... ELSE [] branch
    encodes the same zero-shingle semantics.

    ``distinct=False`` skips the per-doc dedup exchange — correct for
    consumers folding an idempotent aggregate per doc (min-hash: min over
    duplicates == min over distinct), which then see map-side partial
    aggregation instead of a full shuffle of the shingle stream (guide
    §2.3 'aggregate before you shuffle')."""
    toks = F.split(F.trim(F.col(text_col)), WS)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    sh = F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))
    out = _spread(docs).select(F.col(id_col).alias("id"), F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One surviving doc id per distinct text (min id wins): [keep_id, n_dupes, digest]."""
    return (
        docs.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dupes"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard ≥ threshold: [id_a, id_b, jaccard].

    max_shingle_freq drops shingles shared by more than that many docs before
    the self-join (stop-shingle cap — the quadratic-blowup guard at scale).
    """
    sh = shingles(docs, text_col, id_col, n)
    if max_shingle_freq is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_shingle_freq).select("shingle")
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sa"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sb"), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("c") / (F.col("sa") + F.col("sb") - F.col("c"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    n: int = 3,
    hash_family: str = "md5",
) -> DataFrame:
    """[id, sig_0..sig_{k-1}]: sig_i = min over shingles of hash(i ':' shingle).

    hash_family='md5' is the oracle-portable path (DuckDB reproduces it
    bit-for-bit). 'xxhash64' is the production path: same min-hash family over
    a 64-bit integer hash — long mins instead of 32-char-hex string mins in
    the aggregate. Measured ~20% faster end-to-end at sf0.1 (alternating A/B,
    idle box: 3.1 s vs 3.9 s) — the query is dominated by the shingle explode
    and shuffle, not the hash kernel — and its band keys stay integers."""
    # distinct=False (r6): min over duplicate shingles == min over distinct,
    # so the per-doc dedup exchange was pure overhead — the groupBy below
    # partial-aggregates its k mins map-side and shuffles |docs|·k partials
    # instead of the whole shingle stream (guide §2.3)
    sh = shingles(docs, text_col, id_col, n, distinct=False)
    if hash_family == "xxhash64":
        aggs = [F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"sig_{i}") for i in range(k)]
    else:
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"sig_{i}")
            for i in range(k)
        ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    hash_family: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band (k/bands rows per
    band). Returns [id_a, id_b, n_bands] — rerank with ngram_jaccard_pairs or
    exact compare downstream. hash_family as in minhash_signatures
    ('xxhash64' = production, integer band keys, no md5 CPU)."""
    assert k % bands == 0
    rows = k // bands
    sigs = minhash_signatures(docs, text_col=text_col, id_col=id_col, k=k, n=n, hash_family=hash_family)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        if hash_family == "xxhash64":
            bh = F.xxhash64(*parts).cast("string")
        else:
            bh = F.md5(F.concat_ws("|", *parts))
        band_cols.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    buckets = sigs.select("id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    x = buckets.select(F.col("id").alias("id_a"), "band", "bh")
    y = buckets.select(F.col("id").alias("id_b"), "band", "bh")
    return (
        x.join(y, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("band").alias("n_bands"))
    )


def simhash(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """[id, simhash]: per-token md5-derived bit votes, sign-aggregated.

    Uses the first ``bits`` bits of md5(token) (portable: hex substring →
    BIGINT both in Spark and DuckDB). Near-dups have small Hamming distance.
    """
    toks = _spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), WS)).alias("tok"),
    )
    # token hash as a bits-wide integer from the md5 hex prefix
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, bits // 4), 16, 10).cast("bigint")
    votes = toks.select("id", h.alias("h"))
    bit_cols = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = votes.groupBy("id").agg(*bit_cols)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("id", sig.cast("bigint").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup candidate pairs from the SimHash signature: [id_a, id_b, hamming].

    The candidate stage SimHash needs to be usable as dedup (the pigeonhole
    band trick): split the signature into ``bands`` equal bit-bands; any pair
    within Hamming distance < bands must agree on ≥1 whole band, so the join
    runs only inside equal-band buckets — never all-pairs. Survivors are
    ranked by exact Hamming distance (JVM bit_count(a XOR b)) and filtered to
    ``max_hamming``. Same sublinear shape as minhash_lsh_pairs.

    RECALL CONTRACT: completeness is guaranteed only for pairs with
    hamming < ``bands`` (pigeonhole). Pairs with hamming in
    [bands, max_hamming] are returned *when they happen to share a band* —
    useful extra candidates, not an exhaustive listing. For guaranteed recall
    up to distance d, call with bands = d + 1 (band width shrinks, buckets
    coarsen, candidate volume grows — the standard Hamming-LSH trade).
    """
    assert bits % bands == 0
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash(docs, text_col=text_col, id_col=id_col, bits=bits)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("bv"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select("id", "simhash", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv")
    )
    x = buckets.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"), "band", "bv")
    y = buckets.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"), "band", "bv")
    return (
        x.join(y, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_keep_set(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    hash_family: str = "md5",
) -> DataFrame:
    """[keep_id]: the ids surviving the FULL dedup pass a corpus pipeline
    runs — the composition of the individual stages this module exposes.

    Stage 1 (exact): one survivor per distinct text, min id wins.
    Stage 2 (near): among stage-1 survivors, MinHash-LSH proposes candidate
    pairs (banded bucket join — never all-pairs); each candidate is VERIFIED
    by exact n-gram Jaccard, and every verified pair (id_a < id_b, jaccard >=
    threshold) drops the larger id — the greedy 1-hop min-id-winner rule of
    ``exact_dedup`` / ``embedding_near_dup`` (NOT transitive closure: B
    dropped for A does not transfer A's ownership of C; see
    embedding_near_dup for the semantics rationale).

    Scale shape: stage 1 shuffles (digest, id) only. Stage 2's verification
    joins shingles THROUGH the candidate list, so its cost is O(candidates ×
    shared shingles), not the all-pairs shingle self-join. Recall contract:
    a near-dup pair missed by every band survives (the standard LSH trade —
    raise ``bands`` for recall).
    """
    ids = docs.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("digest"))
    exact_keep = ids.groupBy("digest").agg(F.min("id").alias("id")).select("id")
    survivors = docs.join(exact_keep.withColumnRenamed("id", id_col), id_col, "semi")
    drops = (
        verified_near_pairs(
            survivors, text_col=text_col, id_col=id_col, k=k, bands=bands, n=n,
            threshold=threshold, hash_family=hash_family,
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return exact_keep.join(drops, "id", "anti").select(F.col("id").alias("keep_id"))


def verified_near_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    hash_family: str = "md5",
) -> DataFrame:
    """[id_a, id_b] (id_a < id_b): LSH candidate pairs whose EXACT n-gram
    Jaccard clears ``threshold`` — the propose-then-verify stage shared by
    ``dedup_keep_set`` (greedy drop) and ``dedup_clusters`` (closure).

    The verification join routes shingles THROUGH the candidate list, so its
    cost is O(candidates × shared shingles), never the all-pairs self-join."""
    cand = minhash_lsh_pairs(
        docs, text_col=text_col, id_col=id_col, k=k, bands=bands, n=n,
        hash_family=hash_family,
    ).select("id_a", "id_b")
    sh = shingles(docs, text_col, id_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    common = (
        cand.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb")), "id_b")
        .filter(F.col("cnt") / (F.col("sa") + F.col("sb") - F.col("cnt")) >= threshold)
        .select("id_a", "id_b")
    )


def dedup_clusters(
    spark,
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    hash_family: str = "md5",
) -> DataFrame:
    """[doc_id, cluster_id]: TRANSITIVE-closure duplicate clusters over the
    whole corpus; cluster_id = min doc id of the cluster, so a doc is its
    cluster's canonical keeper iff doc_id == cluster_id.

    The duplicate graph unions two edge kinds:
    - exact: every doc → the min-id doc of its md5(text) group (star edges —
      one hash-groupBy, shuffles (digest, id) only);
    - near: among exact survivors, LSH-proposed candidates verified by exact
      n-gram Jaccard ≥ threshold (``verified_near_pairs``).

    Components come from the engine's own ``connected_components`` (pointer-
    jumped min-label — the same kernel the link-graph queries run), so the
    chain A~B, B~C clusters {A,B,C} even when A~C was never proposed. This is
    the closure semantics production corpus pipelines use to pick one
    canonical doc per dup family; contrast ``dedup_keep_set``'s greedy 1-hop
    rule, which this module keeps for reference parity.

    Scale shape: edge construction is the dedup pipeline's own sublinear
    stages; the closure runs O(log n) label rounds over |dup pairs| edges —
    a graph far smaller than the corpus (only docs with ≥1 duplicate edge
    enter it; singletons never shuffle)."""
    from graphulo_spark.algorithms.cc import connected_components

    ids = docs.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("digest"))
    keep = ids.groupBy("digest").agg(F.min("id").alias("kid"))
    exact_edges = (
        ids.join(keep, "digest")
        .filter(F.col("id") != F.col("kid"))
        .select(F.col("kid").alias("src"), F.col("id").alias("dst"))
    )
    survivors = docs.join(
        keep.select(F.col("kid").alias(id_col)), id_col, "semi"
    )
    near_edges = verified_near_pairs(
        survivors, text_col=text_col, id_col=id_col, k=k, bands=bands, n=n,
        threshold=threshold, hash_family=hash_family,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(spark, exact_edges.unionByName(near_edges))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("v", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
