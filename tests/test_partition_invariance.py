"""Partition-count invariance: the property that makes results valid at
any cluster size.

Every deterministic query must produce IDENTICAL rows whether the
engine shuffles into 32 partitions or 5 — if a result depends on the
partitioning, it is wrong at 100 TB where the partition count is a
deployment knob. The sample below spans the riskiest families: float
aggregation (exact-integer discipline), hash-bucketed dedup, salted
two-phase aggregation, iterative k-means (exact-integer centroid
means), window emulations, and the spine-join gap-fill.
"""

from __future__ import annotations

import pytest

from hadoop_map_reduce_spark.plans import REGISTRY

QUERIES = [
    "bigram_count",
    "q1_pricing_summary",
    "dedup_exact",
    "dedup_minhash_lsh",
    "agg_salted_hot_key",
    "tfidf_top_terms",
    "kmeans_embeddings",
    "events_gapfill",
    "window_count_distinct",
    "dq_orders_audit",
    "join_asof",
    "join_asof_tolerance",
    "sessionization",
    "dedup_clusters",
    "graph_pagerank",
    "events_multi_grain",
    "embedding_neardup",
    "sample_stratified_quota",
    "subq_large_orders",
    "curation_quality_funnel",
    "topk_per_group",
    "quality_lm_score",
    "merge_apply_cdc_deletes",
    "recursive_nation_chain",
    # session-6 additions: directional as-of carries, LOCF spine windows,
    # k-means-blocked semantic dedup, profile-derived grid-BLAS cosine,
    # banded interval overlap, BPE merge learning (driver-loop + folds).
    "join_asof_nearest",
    "events_locf",
    "dedup_semantic",
    "similarity_user_profiles",
    "join_interval_overlap",
    "bpe_train_merges",
    "mix_quality_weighted",
    # session-7 additions: two-phase distributed skyline, gaps-and-islands
    # SCD2 runs, lag-window Markov transitions, duration-weighted TWAP.
    "skyline_parts",
    "scd2_status_history",
    "events_transition_probs",
    "timeseries_twap",
    "dq_value_drift",
    "agg_mad_outliers",
    "token_lift_pairs",
    "multimodal_audio_energy",
    "timeseries_ewma",
    "events_funnel_windowed",
    "search_rank_docs",
    "dq_key_skew",
    "dq_fk_orphans",
    "feature_quantile_normalize",
    "agg_weighted_median",
    "agg_rollup_gid",
    "timeseries_cusum",
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_under_repartitioning(spark, sf_dir, name):
    baseline_parts = spark.conf.get("spark.sql.shuffle.partitions")
    fn = REGISTRY[name].fn
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        wide = _rows(fn(spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        narrow = _rows(fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", baseline_parts)
    assert wide == narrow, f"{name}: result depends on shuffle partitioning"
