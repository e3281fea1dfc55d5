"""Analytic operators: classification cascades, per-key profiling
aggregation, dedup, top-k, sessionization, similarity search."""

from cerberus_spark.operators.classify import Classifier, when_chain
from cerberus_spark.operators.aggregate import key_profile, salted_count_map
from cerberus_spark.operators.dedup import (
    first_occurrence,
    exact_dedup_groups,
    ngram_jaccard_pairs,
    minhash_signatures,
    minhash_dup_candidates,
    sequence_dup_groups,
    sequence_fingerprints,
    sequence_minhash,
    sequence_neardup_candidates,
    sequence_neardup_pairs,
)
from cerberus_spark.operators.graph import cluster_representatives, dedup_clusters
from cerberus_spark.operators.topk import top_k_per_group
from cerberus_spark.operators.sessionize import sessionize

__all__ = [
    "Classifier",
    "when_chain",
    "key_profile",
    "salted_count_map",
    "first_occurrence",
    "exact_dedup_groups",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_dup_candidates",
    "sequence_dup_groups",
    "sequence_fingerprints",
    "sequence_minhash",
    "sequence_neardup_candidates",
    "sequence_neardup_pairs",
    "cluster_representatives",
    "dedup_clusters",
    "top_k_per_group",
    "sessionize",
]
