"""Deduplication strategies for large-scale corpus curation
(north-star extensions): exact hash, word-shingle Jaccard,
MinHash+LSH banding, SimHash, embedding-cosine near-dup.

All batch DataFrame→DataFrame; each strategy documents its shuffle
profile — at 100 TB dedup cost is dominated by the candidate-pair
explosion, and every module here bounds it (banding, shingle
frequency caps, block joins) rather than materializing O(n²).
"""

from .exact import corpus_diff, exact_dedup, fingerprint_docs
from .ngram import duplication_profile, jaccard_pairs, shingle_docs
from .minhash import (
    lsh_candidate_probability,
    tune_lsh_params,
    band_candidates,
    minhash_band_pairs,
    minhash_signatures,
    mllib_minhash_pairs,
)
from .simhash import simhash_docs
from .embedding import (
    cosine_near_dup_pairs,
    cosine_near_dup_pairs_lsh,
    cosine_pairs_allpairs_fold,
)
from .winnow import (
    fingerprint_overlap_pairs,
    kgram_hashes,
    winnow_fingerprints,
)
from .semantic import (
    keep_min_per_component,
    kmeans_assign,
    pairs_with_centroids,
    semantic_dedup,
    semantic_dup_pairs,
)
from .lines import (
    remove_repeated_lines,
    repeated_line_stats,
    split_lines,
)
from .substrings import (
    benchmark_overlap_spans,
    repeated_substring_spans,
    repeated_substring_stats,
    scrub_benchmark_overlap,
    scrub_repeated_substrings,
    scrub_to_fixpoint,
)
from .clusters import (
    canonical_docs,
    connected_components,
    resolve_clusters,
    source_overlap_matrix,
)
from .bloom import (
    bloom_bytes,
    bloom_parameters,
    bloom_prefilter,
    bloom_summary,
    merge_blooms,
    might_contain,
)
from .decontaminate import (
    contaminated_doc_ids,
    contamination_report,
    decontaminate,
    semantic_contaminated_ids,
    semantic_contamination_report,
    semantic_decontaminate,
)

__all__ = [
    "corpus_diff", "exact_dedup", "fingerprint_docs",
    "duplication_profile", "jaccard_pairs", "shingle_docs",
    "band_candidates",
    "minhash_band_pairs", "minhash_signatures", "mllib_minhash_pairs",
    "lsh_candidate_probability", "tune_lsh_params",
    "simhash_docs",
    "cosine_near_dup_pairs",
    "cosine_near_dup_pairs_lsh",
    "cosine_pairs_allpairs_fold",
    "fingerprint_overlap_pairs", "kgram_hashes", "winnow_fingerprints",
    "keep_min_per_component", "kmeans_assign", "pairs_with_centroids",
    "semantic_dedup", "semantic_dup_pairs",
    "remove_repeated_lines", "repeated_line_stats", "split_lines",
    "benchmark_overlap_spans", "repeated_substring_spans",
    "repeated_substring_stats", "scrub_benchmark_overlap",
    "scrub_repeated_substrings", "scrub_to_fixpoint",
    "canonical_docs", "connected_components", "resolve_clusters",
    "source_overlap_matrix",
    "bloom_bytes", "bloom_parameters",
    "bloom_prefilter", "bloom_summary", "merge_blooms",
    "might_contain",
    "contaminated_doc_ids", "contamination_report", "decontaminate",
    "semantic_contaminated_ids", "semantic_contamination_report",
    "semantic_decontaminate",
]
