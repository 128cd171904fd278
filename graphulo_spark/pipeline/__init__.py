"""Large-scale training-data pipeline operators.

These go beyond the reference's operator set (SURVEY.md §2): the operations a
100 TB training-data pipeline needs over document/embedding tables —
deduplication, similarity search, text analysis. All hot
paths are JVM-side column expressions; hashing primitives are md5-based and
arithmetic-only so DuckDB oracles can reproduce results bit-for-bit.
"""

from graphulo_spark.pipeline.dedup import (
    dedup_clusters,
    dedup_keep_set,
    exact_dedup,
    minhash_signatures,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    shingles,
    verified_near_pairs,
)
from graphulo_spark.pipeline.similarity import (
    cosine_topk,
    embedding_dup_clusters,
    lsh_hyperplane_buckets,
)
from graphulo_spark.pipeline.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)

__all__ = [
    "dedup_clusters",
    "dedup_keep_set",
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "shingles",
    "verified_near_pairs",
    "cosine_topk",
    "embedding_dup_clusters",
    "lsh_hyperplane_buckets",
    "doc_fingerprint",
    "lang_id",
    "quality_score",
    "token_count",
]
