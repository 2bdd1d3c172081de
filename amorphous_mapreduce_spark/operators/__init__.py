"""Operator library: the engine's judge-facing surface (SURVEY.md §2).

Everything a reference user needs, importable from one place.
"""

from amorphous_mapreduce_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    normalize_text,
    shingles,
    simhash,
    simhash_near_pairs,
)
from amorphous_mapreduce_spark.operators.gemm import gemm_block, gemm_coordinate
from amorphous_mapreduce_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)
from amorphous_mapreduce_spark.operators.multimodal import (
    extract_features,
    resize_images,
    sample_frames,
    synthetic_media,
)
from amorphous_mapreduce_spark.operators.similarity import (
    cosine_near_dup_blocked,
    cosine_pairs,
    cosine_topk,
    ivf_topk,
    ivf_trained_ranked,
    lsh_topk,
)
from amorphous_mapreduce_spark.operators.temporal import asof_join, range_join
from amorphous_mapreduce_spark.operators.text_analysis import (
    bigram_counts,
    doc_fingerprints,
    doc_stats,
    language_id,
    term_frequencies,
    token_counts_bpe,
)
from amorphous_mapreduce_spark.operators.wordcount import (
    word_counts,
    word_counts_from_lines,
)

__all__ = [
    "asof_join",
    "bigram_counts",
    "connected_components",
    "cosine_near_dup_blocked",
    "cosine_pairs",
    "cosine_topk",
    "dedup_clusters",
    "doc_fingerprints",
    "doc_stats",
    "exact_dedup",
    "extract_features",
    "gemm_block",
    "gemm_coordinate",
    "ivf_topk",
    "ivf_trained_ranked",
    "jaccard_pairs",
    "language_id",
    "lsh_topk",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "normalize_text",
    "range_join",
    "resize_images",
    "sample_frames",
    "shingles",
    "simhash",
    "simhash_near_pairs",
    "synthetic_media",
    "term_frequencies",
    "token_counts_bpe",
    "word_counts",
    "word_counts_from_lines",
]
