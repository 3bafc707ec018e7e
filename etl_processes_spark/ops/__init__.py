"""Large-scale data-processing operators (driver-mandated extension
families). Import from the submodules for the full surface; the names
below are the high-traffic entry points re-exported for discoverability.

Submodules: dedup (exact / near / line / span / semantic / incremental),
similarity (top-k, ANN, SemDeDup), textstats (lang-ID, quality, PII,
repetition, URL domains, heavy hitters, tf-idf), classify
(model-based quality scores), pack (sampling, mixtures, splits, chunking,
packing, shuffle), timeseries (resample / gap-fill / interpolation),
audit (key integrity, accepted values, schema drift, multivariate
outliers), cdc (CDC compaction, SCD-2 history),
decontaminate, multimodal, asof, rangejoin, skew, relational.
"""

from etl_processes_spark.ops.audit import (
    accepted_values_violations,
    distribution_drift,
    fk_violations,
    mahalanobis_outliers,
    pk_violations,
    schema_drift,
)
from etl_processes_spark.ops.cdc import (
    latest_snapshot,
    scd2_intervals,
)
from etl_processes_spark.ops.classify import (
    score_with_classifier,
    train_logistic,
)
from etl_processes_spark.ops.dedup import (
    dedup_clusters,
    dedup_incremental,
    edit_distance_pairs,
    line_dedup,
    line_dedup_incremental,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    remove_duplicate_spans,
    simhash_fingerprints,
)
from etl_processes_spark.ops.decontaminate import contamination_report, decontaminate
from etl_processes_spark.ops.pack import (
    chunk_documents,
    mixture_rates,
    mixture_rates_by_tokens,
    mixture_sample,
    pack_documents,
    shuffle_deterministic,
    split_assign,
    stratified_sample,
)
from etl_processes_spark.ops.similarity import (
    ann_cosine_ivf,
    ann_cosine_ivf_pq,
    ann_cosine_lsh,
    cosine_topk_fast,
    embedding_near_dup_pairs,
    ivf_pq_index,
    semantic_dedup,
)
from etl_processes_spark.ops.textstats import (
    heavy_hitters,
    pii_scrub,
    quality_features,
    repetition_stats,
    tfidf_top_terms,
    token_heavy_hitters,
    unigram_logprob_score,
)
from etl_processes_spark.ops.timeseries import (
    gap_fill,
    resample,
    resample_gap_fill,
    rolling_stats,
)

__all__ = [
    "accepted_values_violations", "ann_cosine_ivf", "ann_cosine_ivf_pq",
    "ann_cosine_lsh", "chunk_documents", "contamination_report",
    "cosine_topk_fast", "decontaminate", "dedup_clusters", "dedup_incremental",
    "distribution_drift", "edit_distance_pairs", "embedding_near_dup_pairs",
    "fk_violations", "gap_fill", "heavy_hitters", "ivf_pq_index",
    "latest_snapshot", "line_dedup", "line_dedup_incremental",
    "mahalanobis_outliers", "minhash_lsh_pairs", "mixture_rates",
    "mixture_rates_by_tokens", "mixture_sample", "ngram_jaccard_pairs",
    "pack_documents", "pii_scrub", "pk_violations", "quality_features",
    "remove_duplicate_spans", "repetition_stats", "resample",
    "resample_gap_fill", "rolling_stats", "scd2_intervals", "schema_drift",
    "score_with_classifier", "semantic_dedup", "shuffle_deterministic",
    "simhash_fingerprints", "split_assign", "stratified_sample",
    "tfidf_top_terms", "token_heavy_hitters", "train_logistic",
    "unigram_logprob_score",
]
