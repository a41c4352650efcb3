"""Spark DataFrame operators.

Near-dedupe pipeline stages: sketch_op, blocking, pairs, scoring,
clustering, resolve. Training-data ops: exact_dedupe, text_analysis,
ngram, simhash, embedding_ann, multimodal.
"""

from .sketch_op import sketch_documents
from .blocking import explode_bands
from .pairs import candidate_pairs
from .scoring import score_pairs, duplicate_edges
from .clustering import connected_components
from .resolve import resolve_clusters, duplicates, dedupe_output
from .exact_dedupe import exact_dedupe, exact_dupe_groups, exact_dedupe_output
from .text_analysis import (
    doc_stats,
    quality_score,
    doc_fingerprint,
    token_histogram,
    language_id,
)
from .ngram import word_ngrams, ngram_jaccard_adjacent, ngram_dupe_pairs_adjacent
from .simhash import simhash_documents, simhash_candidate_pairs
from .embedding_ann import brute_force_topk, lsh_topk, hyperplane_buckets
from .multimodal import binary_features, with_binary_payload

__all__ = [
    "sketch_documents", "explode_bands", "candidate_pairs",
    "score_pairs", "duplicate_edges", "connected_components",
    "resolve_clusters", "duplicates", "dedupe_output",
    "exact_dedupe", "exact_dupe_groups", "exact_dedupe_output",
    "doc_stats", "quality_score", "doc_fingerprint", "token_histogram",
    "language_id",
    "word_ngrams", "ngram_jaccard_adjacent", "ngram_dupe_pairs_adjacent",
    "simhash_documents", "simhash_candidate_pairs",
    "brute_force_topk", "lsh_topk", "hyperplane_buckets",
    "binary_features", "with_binary_payload",
]
