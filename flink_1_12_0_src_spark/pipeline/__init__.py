"""LLM-training-data pipeline operators (SURVEY.md §7 Phase 5 / BASELINE.json
north star): dedup families, similarity search, text analysis, multimodal
column plumbing — all DataFrame transforms designed for 100 TB:

- no driver-side collects; everything is scan → (explode) → hash-agg → join;
- pair-generation is always LSH/blocking-bounded, never a naive cross join;
- text hashing uses engine-portable md5 so results are verifiable against an
  independent SQL engine (swap to xxhash64 for ~3× throughput when
  cross-engine verification isn't needed — same topology).
"""

from flink_1_12_0_src_spark.pipeline.text import (
    bm25_topk,
    gopher_rules,
    language_id,
    quality_score,
    repetition_signals,
    shingles,
    token_stats,
    tokens,
)
from flink_1_12_0_src_spark.pipeline.dedup import (
    bloom_membership,
    decontaminate,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    semantic_prune,
    simhash_signatures,
    winnow_fingerprint,
)
from flink_1_12_0_src_spark.pipeline.similarity import cosine_topk
from flink_1_12_0_src_spark.pipeline.multimodal import attach_blob, extract_blob_features
from flink_1_12_0_src_spark.pipeline.sampling import token_budget_select

__all__ = [
    "attach_blob",
    "bloom_membership",
    "bm25_topk",
    "cosine_topk",
    "decontaminate",
    "exact_dedup",
    "extract_blob_features",
    "gopher_rules",
    "language_id",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "quality_score",
    "repetition_signals",
    "shingles",
    "simhash_signatures",
    "token_budget_select",
    "token_stats",
    "tokens",
    "winnow_fingerprint",
]
