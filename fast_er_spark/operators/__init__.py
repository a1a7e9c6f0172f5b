from .agreement import (
    assemble_patterns,
    exact_levels_dedup,
    exact_levels_linkage,
    fuzzy_levels_dedup,
    pattern_counts,
)
from .components import connected_components
from .lsh import band_buckets, lsh_candidate_pairs, with_minhash_signature
from .similarity import cosine_topk, lsh_topk
from .substring import anchor_pairs, doc_anchors
from .verify import verify_pairs_jaccard

__all__ = [
    "assemble_patterns",
    "exact_levels_dedup",
    "exact_levels_linkage",
    "fuzzy_levels_dedup",
    "pattern_counts",
    "connected_components",
    "band_buckets",
    "lsh_candidate_pairs",
    "with_minhash_signature",
    "cosine_topk",
    "lsh_topk",
    "anchor_pairs",
    "doc_anchors",
    "verify_pairs_jaccard",
]
