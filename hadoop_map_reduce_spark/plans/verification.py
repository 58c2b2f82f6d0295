"""Ordering of the registry for the external verification driver.

The driver oracle-checks only the FIRST 50 entries of ``queries()`` (in
dict insertion order) each round. To maximize hard verification signal,
queries that have never received a driver verdict — or whose plan changed
since their last green row — must register ahead of queries that are
already green (those stay pinned by the local oracle-differential tests
in ``tests/``).

``DRIVER_VERIFIED`` is the audit trail: names with a green driver verdict
(rows+schema+hash match) from previous rounds. Regenerated from
``CORRECTNESS_r{N}.json`` via ``tools/update_verified.py`` each round;
anything NOT in this set sorts first. A query whose semantics/plan change
in a later round must be removed from this set so it re-enters the
verification window.

Rows-only queries (registry ``oracle is None``) are ALWAYS ordered last:
the driver can only record ``no_oracle`` for them, so a window slot spent
on one is wasted (7 slots burned across rounds 4–5 before this rule).
Each is pinned locally by a bit-exact recomputation or recall-bound test.
"""

from __future__ import annotations

from .registry import REGISTRY

# Union of green driver verdicts across CORRECTNESS_r01-r11 (289
# names — 100% of the oracled registry as of round 11, CORRECTNESS_r11
# 50/50 green with zero no_oracle). Generated by
# tools/update_verified.py after round 11. Round-12 hand removals (19
# names whose plan or operator internals changed in the optimization
# round — they re-enter the verification window): the graph iterative
# family (graph_pagerank, graph_pagerank_converged,
# graph_kcore_bounded, graph_kcore_converged: rank-vector broadcast,
# tail coalesce, tracked checkpoint release), the prefix-filter dedup
# family and every query composing it (dedup_ngram_jaccard,
# dedup_containment, contamination_pairs, split_leakage_report,
# dedup_winnow_eval, dedup_source_overlap, dedup_source_rate:
# collision-aware bounds + hashed-UB verify), the minhash family
# (dedup_minhash_lsh, dedup_incremental, dedup_clusters,
# dedup_cluster_retention, dedup_clusters_loground,
# pipeline_training_manifest, stream_neardup_lsh: one-expr banding +
# cached signature UDF — plan-identical by construction, re-fronted
# out of caution), and search_hybrid_rrf (fused rank recovery).
# Also removed: similarity_user_profiles, whose pair stage moved from
# the block-grid Catalyst fold to cosine_neardup_grid_blas.
DRIVER_VERIFIED: frozenset[str] = frozenset(
    {
        "agg_bit_ops",
        "agg_bitmap_distinct",
        "agg_bool_funcs",
        "agg_collect_sorted",
        "agg_corr_exact",
        "agg_cube",
        "agg_distinct",
        "agg_filter_clause",
        "agg_grouping_sets",
        "agg_mad_outliers",
        "agg_mode_median",
        "agg_percentiles",
        "agg_regr_exact",
        "agg_rollup",
        "agg_rollup_gid",
        "agg_salted_hot_key",
        "agg_skew_kurtosis",
        "agg_stats_exact",
        "agg_string_concat",
        "agg_weighted_median",
        "agg_winsorized_mean",
        "ann_filtered_cell_census",
        "ann_filtered_recall_bound",
        "ann_index_filtered_census",
        "ann_index_filtered_recall_bound",
        "ann_index_recall_bound",
        "ann_index_served_search",
        "ann_index_store_census",
        "ann_index_timetravel_census",
        "ann_lsh_bucket_census",
        "ann_lsh_recall_bound",
        "array_posexplode",
        "bigram_cond_prob",
        "bigram_count",
        "bpe_merge_table_census",
        "cogrouped_user_summary",
        "complex_array_funcs",
        "corpus_stats_by_lang",
        "curation_banned_terms",
        "curation_cap_per_source",
        "curation_cut_dup_spans",
        "curation_decontaminate_13gram",
        "curation_decontaminate_cut",
        "curation_dsir_score",
        "curation_gopher_rules",
        "curation_html_extract",
        "curation_passage_dedup",
        "curation_passage_novelty",
        "curation_pii_scrub",
        "curation_quality_funnel",
        "curation_repetition_ratio",
        "curation_selfrepeat_coverage",
        "curation_url_gate",
        "curation_url_normalize_dedup",
        "dedup_exact",
        "dedup_fingerprint",
        "dedup_fuzzy_levenshtein",
        "dedup_span_coverage",
        "dedup_substring_spans",
        "dedup_winnow_pairs",
        "distinct_rows",
        "doc_byte_histogram",
        "doc_chunks_overlap",
        "doc_embed_hashed",
        "doc_token_stats",
        "dq_benford",
        "dq_documents_audit",
        "dq_embedding_audit",
        "dq_fd_violations",
        "dq_fk_orphans",
        "dq_k_anonymity",
        "dq_key_skew",
        "dq_orders_audit",
        "dq_value_drift",
        "embedding_centroid_by_label",
        "embedding_gram_census",
        "embedding_hard_negatives",
        "embedding_neardup",
        "embedding_quantize_int8",
        "embedding_random_projection",
        "events_anomaly_zscore",
        "events_attribution",
        "events_cohort_ltv",
        "events_funnel",
        "events_funnel_windowed",
        "events_gapfill",
        "events_histogram",
        "events_hourly",
        "events_locf",
        "events_locf_segmented",
        "events_multi_grain",
        "events_ohlc",
        "events_pattern_strict_seq",
        "events_retention",
        "events_rfm_segments",
        "events_transition_probs",
        "feature_quantile_normalize",
        "graph_cc_bounded",
        "graph_cc_loground",
        "graph_degree_hist",
        "graph_triangles",
        "graph_triangles_approx",
        "graph_triangles_hybrid",
        "grouped_pandas_normalize",
        "having_brand_counts",
        "incremental_agg_refresh",
        "interval_union_days",
        "ivf_cell_census",
        "ivf_recall_bound",
        "ivfpq_code_census",
        "ivfpq_recall_bound",
        "join_anti",
        "join_asof",
        "join_asof_fwd",
        "join_asof_nearest",
        "join_asof_tolerance",
        "join_bloom_semi",
        "join_cross",
        "join_full_outer",
        "join_interval_overlap",
        "join_null_safe",
        "join_range_bucket",
        "join_salted_skew",
        "join_semi",
        "lateral_top_orders",
        "layout_compaction_plan",
        "layout_zonemap_prune",
        "layout_zorder_clusters",
        "manifest_diff",
        "merge_apply_cdc_deletes",
        "merge_upsert_orders",
        "mix_quality_weighted",
        "mix_sources_weighted",
        "mix_temperature_quota",
        "mrl_prefix_recall_bound",
        "multimodal_audio_energy",
        "multimodal_audio_segments",
        "multimodal_dedup_exact",
        "multimodal_features",
        "multimodal_frame_hash_matches",
        "multimodal_frames",
        "multimodal_meta",
        "multimodal_phash",
        "multimodal_phash_clusters",
        "multimodal_phash_neardup",
        "multimodal_resize_audit",
        "multimodal_scene_cuts",
        "pack_curriculum_order",
        "pack_global_shuffle",
        "pack_length_buckets",
        "pack_token_chunks",
        "pack_write_shards",
        "pipeline_crawl_extract",
        "pivot_event_counts",
        "pq_code_census",
        "pq_recall_bound",
        "profile_orders",
        "q10_returned_items",
        "q11_important_parts",
        "q12_ship_delay_buckets",
        "q13_custdist",
        "q14_promo_share",
        "q15_top_supplier",
        "q16_supplier_count",
        "q17_small_quantity",
        "q18_large_volume",
        "q19_disjunctive",
        "q1_pricing_summary",
        "q20_excess_shipments",
        "q21_waiting_supplier",
        "q22_global_sales",
        "q2_min_cost_supplier",
        "q3_shipping_priority",
        "q4_order_priority",
        "q5_local_supplier",
        "q6_forecast_revenue",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "quality_lm_score",
        "quality_score_calibration",
        "recursive_nation_chain",
        "sample_hash_bucket",
        "sample_reservoir_hash",
        "sample_stratified_quota",
        "scalar_bitwise_funcs",
        "scalar_case_when",
        "scalar_collation_funcs",
        "scalar_date_funcs",
        "scalar_interval_funcs",
        "scalar_json_funcs",
        "scalar_map_funcs",
        "scalar_math_funcs",
        "scalar_null_funcs",
        "scalar_string_funcs",
        "scalar_try_funcs",
        "scalar_url_funcs",
        "scalar_variant_funcs",
        "scd2_status_history",
        "search_rank_docs",
        "sessionization",
        "set_except",
        "set_except_all",
        "set_intersect",
        "set_intersect_all",
        "set_union",
        "set_union_all_counts",
        "similarity_topk",
        "sketch_cms_heavy_hitters",
        "sketch_freq_items",
        "sketch_hll_rollup",
        "sketch_quantile_check",
        "skyline_parts",
        "skyline_parts_grid",
        "sort_null_ordering",
        "split_assign",
        "stream_ann_index_admission",
        "stream_bigram_counts",
        "stream_crawl_extract",
        "stream_dedup_watermarked",
        "stream_distinct_docs",
        "stream_events_hourly",
        "stream_ewma",
        "stream_phash_neardup",
        "stream_quality_funnel",
        "stream_sessionize",
        "stream_sliding_counts",
        "stream_stream_join",
        "subq_below_brand_avg",
        "subq_cust_distribution",
        "subq_idle_rich_customers",
        "subq_large_orders",
        "subq_priority_exists",
        "subq_promo_share",
        "subq_small_quantity",
        "subq_sole_supplier",
        "text_fingerprint",
        "text_lang_confusion",
        "text_lang_id",
        "text_quality",
        "text_winnowing",
        "tfidf_top_terms",
        "timeseries_cusum",
        "timeseries_dtw_bounded",
        "timeseries_ewma",
        "timeseries_twap",
        "token_lift_pairs",
        "tokenizer_fertility_by_lang",
        "tokenizer_oov_census",
        "topk_lineitems",
        "topk_offset",
        "topk_per_group",
        "trigram_count",
        "udtf_token_positions",
        "unpivot_metrics",
        "user_type_gini",
        "warc_roundtrip_census",
        "window_count_distinct",
        "window_distribution",
        "window_first_last",
        "window_lag_lead",
        "window_moving_avg",
        "window_ntile",
        "window_range_frame",
        "window_rank",
        "window_rolling_median",
        "window_running_total",
        "wordcount",
        "zip_roundtrip_census",
    }
)


# Round-9 must-verify list: empty — the round-8 window cleared the
# backlog (cumulative 272/272 oracled entries green). Round-9 plan
# changes and new registrations are never-verified / hand-removed and
# therefore front the queue via the structural `pending` partition
# below; no hand-pinning needed.
_PRIORITY: tuple[str, ...] = ()


def verification_order(names: list[str]) -> list[str]:
    """Stable partition: priority (overflow/changed) names first, then
    never-verified oracled names in registry order, then verified names,
    then rows-only (oracle-less) names dead last — a driver window slot
    spent on a rows-only query can never improve its verdict.

    When pending exceeds the driver's 50-slot window, the overflow — by
    construction the most recently registered entries — waits for a
    later round; local oracle tests and tools/verify_contract.py cover
    every entry in the meantime.
    """
    rows_only = [n for n in names if REGISTRY[n].oracle is None]
    ro = set(rows_only)
    prio = [n for n in _PRIORITY if n in names and n not in ro]
    rest = set(prio)
    pending = [
        n
        for n in names
        if n not in DRIVER_VERIFIED and n not in rest and n not in ro
    ]
    done = [
        n
        for n in names
        if n in DRIVER_VERIFIED and n not in rest and n not in ro
    ]
    return prio + pending + done + rows_only
