"""Single source of truth for the sf1 scale-canary query set.

Selection rule: every query whose memory/state/explode factor is
DATA-DEPENDENT — candidate-pair generation (MinHash/SimHash/n-gram
bands), per-group collected structures, interval explodes, suffix-style
span joins, sketch buffers, skew-sensitive shuffles, Arrow-batched
pandas-UDF stages — plus one representative per cheap family as a
control. These are the queries where sf0.01 correctness can hide an
sf1 OOM or a super-linear plan (precedent: round 4's text_fingerprint
per-doc gram-array OOM, caught only at sf1).

Consumed by:
- correctness: ``python scripts/driver_sim.py .scale/sf1
  --engine-session --names "$(python scripts/canary_names.py --correctness)"
  --rows-only "$(python scripts/canary_names.py --rows-only)"
  --json CORRECTNESS_SF1_canary.json``
- timing:      ``python scripts/scaling_canary.py`` (sf0.1 vs sf1 wall
  time per query → BENCH_SCALING.json, flags ratio > 15×)
"""

from __future__ import annotations

SF1_CANARY = [
    # --- round-4 core 30 (kept verbatim for round-over-round trend) ---
    "agg_approx_percentiles_sketch",
    "agg_heavy_hitters_topk",
    "agg_histogram_quantiles",
    "agg_hll_intersection_estimate",
    "agg_hll_sketch_union",
    "agg_salted_two_phase",
    "asof_join_nearest",
    "behavior_rfm_segments",
    "curation_dedup_rate_by_source",
    "curation_quality_threshold_sweep",
    "dedup_cluster_components",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_dimension_variance_report",
    "events_change_point_cusum",
    "events_session_concurrency",
    "events_sessionize",
    "maintenance_partition_skew_report",
    "maintenance_table_checksum",
    "sample_class_balance_downsample",
    "similarity_cosine_topk",
    "split_leakage_safe_clusters",
    "stream_static_dim_enrichment",
    "text_fingerprint",
    "text_ngram_entropy_filter",
    "text_vocab_growth_heaps",
    "tpch_q18_large_volume_customers",
    "tpch_q1_pricing_summary",
    "tpch_q5_region_revenue",
    "window_cumulative_distinct_users",
    # --- round-5 widening: remaining data-dependent state/explode ---
    # verdict-named additions
    "asof_feature_snapshot",
    "pipeline_pretraining_prep",
    "pack_sequences_bins",
    "text_duplicate_spans",
    # candidate-pair dedup family (band fan-out grows with cluster size)
    "dedup_minhash_similarity",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_shingle_containment",
    "curation_dedup_keep_best",
    "embedding_near_dup_pairs",
    # ANN / embedding pipelines (pandas-UDF GEMM stages, cell joins)
    "similarity_ann_ivf",
    "similarity_ann_pq",
    "similarity_ann_ivf_pq",
    "similarity_knn_graph_blocked",
    "similarity_hard_negative_mining",
    "dedup_semantic_kmeans",
    "embedding_pca_project",
    # text pipelines with per-doc token/shingle explodes
    "text_tfidf_top_terms",
    "text_bpe_pair_counts",
    "text_bigram_lm_kneser_ney",
    "text_repeated_shingles",
    "text_unigram_surprisal",
    "curation_ngram_novelty",
    "curation_token_budget_sample",
    # decontamination screens (Bloom bits, fuzzy MinHash verify)
    "curation_decontaminate_bloom",
    "curation_decontaminate_fuzzy",
    # skew/state-heavy event analytics
    "join_salted_skew_join",
    "behavior_dau_wau_stickiness",
    "events_sliding_windows",
    "events_scd2_user_state",
    "behavior_attribution_last_touch",
    "pivot_user_event_matrix",
    "window_range_frame_trailing_spend",
    "agg_count_min_sketch",
    "multimodal_phash_buckets",
    # round-5 additions with data-dependent state/fan-out
    "events_time_weighted_avg",
    "curation_quantile_normalize_scores",
    "text_boilerplate_by_source",
    "join_bloom_prefilter_reduction",
    "events_funnel_time_bounded",
    "window_session_funnel_paths",
    "layout_sorted_write_clustering",
    "curation_soft_dedup_weighting",
    # round-6 additions with data-dependent pair/iteration fan-out
    "graph_pagerank_purchases",          # per-iteration |E| joins
    "graph_triangle_count_cosupply",     # pair generation + wedge closure
    "events_mann_kendall_trend",         # capped per-user pairwise join
    "dedup_pair_similarity_histogram",   # co-shingle posting-list join
    "pipeline_incremental_corpus_refresh",  # incoming↔standing containment
    "curation_gopher_quality_rules",     # full-word explode, two-level agg
    # round-6 waves 3/4 with data-dependent pair/eval fan-out
    "graph_jaccard_link_prediction",     # co-customer pair generation
    "dedup_cluster_size_histogram",      # CC fixpoint + anti-join singles
    "similarity_multiprobe_recall_sweep",  # all-pairs eval ×3 probe radii
    "similarity_diversified_topk",       # all-pairs + double window
    "quality_classifier_agreement_kappa",  # full-word explode contingency
    # round-6 wave 5
    "multimodal_phash_hamming_pairs",    # banded Hamming pair generation
    "pack_sequences_waste_sweep",        # prefix-sum window ×4 sweep
    "maintenance_schema_evolution_audit",  # two-version table write+merge
    # round-6 wave 6
    "text_bpe_train_merges",             # iterative vocab merges, 3 checkpointed rounds
    "events_pattern_match_sequence",     # per-session collect + regex count
    "events_frequent_sequences",         # double window + trigram agg
    # round-6 wave 7
    "graph_core_peel_quantile",          # 3 checkpointed peel rounds, semi-join cascade
    "curation_source_overlap_matrix",    # gram-digest self-join, C(sources,2) fanout
    "agg_weighted_median",               # distinct-value collapse + cumulative window
    # round-6 wave 8
    "stream_pattern_match_cep",          # per-user session state, Arrow stateful op
    # round-6 wave 9
    "maintenance_incremental_view_refresh",  # physical snapshot write + delta merge
    "behavior_ab_test_lift",             # event-log collapse to per-user rows
    # round-6 wave 10
    "events_sliding_distinct_users",     # 7x user-day contribution explode
    "scalar_decimal_money_arithmetic",   # 128-bit decimal accumulators
    # round-6 wave 11
    "source_shard_occupancy_report",     # physical shard-file scan + invariant audit
    # --- round-7 widening (verdict ask #4): every remaining flagship-
    # family member, the 20 slowest bench names outside the canary, and
    # one heaviest representative per remaining cheap family ---
    # remaining dedup_* / similarity_* / graph_* / pipeline_*
    "dedup_incremental_digest",
    "dedup_method_venn",
    "dedup_minhash_band_tuning",
    "dedup_normalized",
    "dedup_simhash_buckets",
    "similarity_centroid_drift",
    "similarity_hyperplane_lsh",
    "similarity_ivf_cell_balance_report",
    "similarity_label_centroids",
    "similarity_paired_retrieval_eval",
    "graph_degree_distribution",
    "pipeline_quality_dedup_filter",
    # slowest bench names not previously covered
    "curation_importance_weights",
    "curation_decontaminate_train",
    "tpch_q21_waiting_suppliers",
    "text_repetition_filter",
    "maintenance_table_stats",
    "subquery_lateral_recent_orders",
    "tpch_q8_market_share",
    "tpch_q20_excess_share_suppliers",
    "source_pyds_ingest_rollup",
    "egress_writer_throttle_requeue",
    "quality_expectations_report",
    "scan_formats_roundtrip",
    "tpch_q7_volume_shipping",
    "embedding_matryoshka_truncation_qa",
    "egress_writer_passthrough",
    "behavior_cohort_ltv_triangle",
    "text_langid_confusion",
    "tpch_q11_important_stock",
    "tpch_q9_product_profit",
    "maintenance_manifest_orphans",
    "egress_writer_dlq_split",
    "tpch_q2_min_cost_supplier",
    # per-family heaviest representatives not otherwise covered
    "agg_collect_sorted_lists",          # per-group collected arrays
    "agg_regression_value_trend",        # regr_* accumulators
    "asof_join_tolerance",               # staleness-bounded as-of
    "behavior_segment_migration_matrix", # month×month self-join
    "behavior_spend_pareto",             # per-user collapse + NTILE
    "behavior_growth_accounting",        # day-over-day full-outer
    "curation_domain_mixture_weights",   # per-source aggregate + renorm
    "curation_tokenizer_fertility",      # regex token explode
    "events_transition_matrix",          # lag self-pair aggregation
    "events_seasonality_profile",        # dow×hour pivot
    "events_velocity_features",          # multi-window per-user frames
    "join_fuzzy_entity_resolution",      # blocked edit-distance join
    "join_scd2_point_in_time",           # interval-bounded join
    "layout_zorder_cluster",             # interleaved-bit clustering write
    "layout_bucketed_join",              # bucketed co-located join
    "maintenance_merge_upsert",          # physical merge write
    "maintenance_snapshot_diff",         # two-snapshot full-outer
    "multimodal_clip_pair_filter",       # paired modality screen
    "multimodal_frame_sample",           # per-video frame explode
    "quality_psi_drift_report",          # binned distribution compare
    "sample_weighted_reservoir",         # weighted reservoir keys
    "sample_fixed_per_group",            # per-group rank sample
    "scalar_string_functions",           # widest scalar family row count
    "subquery_in_recent_buyers",         # decorrelated IN
    "text_pii_scrub",                    # multi-regex rewrite
    "text_chunk_windows",                # overlapping token windows
    "text_token_counts_bpe",             # BPE-ish regex token counts
    "text_zipf_fit",                     # rank-frequency regression
    "udaf_pandas_weighted_mean",         # Arrow-batched grouped UDAF
    "udtf_sentence_split",               # generator UDTF explode
    "unpivot_nation_balances",           # stack/unpivot
    "window_first_last_nth",             # ordered frame navigation
    "window_percent_rank_cume",          # rank-family windows
    # round-7 additions with data-dependent iteration/pair fan-out
    "graph_label_propagation_communities",  # 3 checkpointed LPA rounds, |E| joins
    "dedup_split_leakage_audit",         # banded LSH pair generation
    "curation_temperature_sampling",     # corpus-wide hash-threshold filter
    "maintenance_delete_vectors_mor",    # physical base+sidecar+compaction writes
    "behavior_next_event_prediction",    # event-scale window + broadcast model
    "similarity_knn_label_eval",         # IVF-bucket pair fan-out + vote windows
    "layout_partition_spec_evolution",   # dual-spec partitioned writes
    "layout_dynamic_partition_pruning",  # runtime-pruned star join
    "stream_multi_source_union",         # two-source streaming union
    "agg_frequent_itemset_pairs",        # capped within-basket pair self-join
    "source_checkpoint_restart_rollup",  # two query lifetimes, offset resume
    "scalar_variant_json_shredding",     # VARIANT parse + typed shredding
    "stream_two_sinks_atomic",           # dual-sink commit protocol at volume
    "stream_exactly_once_sink",          # commit-log sink at volume
    "stream_merge_upsert_table",         # streaming merge at volume
    # round-8 additions
    "scalar_decimal_money_dbg_n",        # money-gate debug twin (count)
    "scalar_decimal_money_dbg_total_cents",  # money-gate debug twin (BIGINT sum)
    "scalar_decimal_money_dbg_total_money",  # money-gate debug twin (VARCHAR render)
    # round-8 (verdict ask #5): the three slowest stream drains, so the
    # scaling canary times them at sf1 and flags super-linear degradation
    "stream_stream_interval_join",       # watermarked interval self-join state
    "stream_rollup_table_maintenance",   # foreachBatch rollup-table rewrite
    "stream_dedup_counts",               # watermark-bounded dedup state
    # round-8 new operators
    "graph_personalized_pagerank",       # seed-teleport PPR, 3 |E|-join rounds
    "similarity_binary_quantization",    # sign-bit codes, Hamming shortlist
    "agg_bitmap_exact_distinct_rollup",  # mergeable-bitmap exact distinct
    "similarity_mips_norm_augment",      # MIPS reduction rank agreement
    "text_chunk_dedup_rate",             # sub-document chunk dedup grain
    "agg_bitmap_exact_intersection",     # bitmap merge pair fan-out
    # --- round 9 ---
    "graph_triangle_census_selfcheck",   # dual-plan closure (rows-only at sf1)
    "text_bm25_ranked_retrieval",        # posting join + rare-term budget
    "retrieval_hybrid_rrf",              # BM25 + dense RRF fusion
    "retrieval_eval_system_comparison",  # three-system IR-metric eval
    "stream_stream_left_outer_join",     # watermark-driven outer-null emission
    "events_holt_linear_forecast",       # days-bounded recurrence fold
    "join_interval_overlap_surge",       # banded interval-overlap join (hour-bucket explode)
    "stream_session_timeout_eviction",   # raw EventTimeTimeout eviction machinery
    "quality_calibration_reliability",   # integer-exact ECE reliability bins
    # --- round 10/11 ---
    "stream_ann_index_upsert",           # incremental IVF maintenance drain
    "similarity_standing_index_topk",    # cell-pruned search over the standing index
    "stream_ann_index_cdc_deletes",      # retained-marker CDC deletes + re-inserts
    "maintenance_ann_marker_compaction", # partition-pruned marker reclaim
    # --- round 12 ---
    "similarity_standing_index_recall_sweep",  # recall-vs-radius over the standing index
    "maintenance_ann_vacuum_retention",        # superseded-file reclaim, consumer view pinned
    "stream_ann_search_during_upsert",         # serving inside the drain, pinned snapshot
    "similarity_standing_index_time_travel",   # pinned-version replay equals mid-drain record
    # --- round-8 widening (verdict ask #6): every remaining registry
    # name, so the sf1 canary covers the full surface ---
    "agg_approx_distinct_users",
    "agg_argmin_argmax_by",
    "agg_corr_covar_price_qty",
    "agg_cube_status_priority",
    "agg_distinct_users_per_type",
    "agg_exact_percentiles",
    "agg_grouping_sets",
    "agg_median_countif_bool",
    "agg_mode_per_group",
    "agg_rollup_region_nation",
    "agg_stats_variance",
    "asof_forward_time_to_purchase",
    "asof_join_last_login",
    "behavior_funnel_view_click_purchase",
    "behavior_longest_streak",
    "behavior_weekly_retention",
    "curation_dataset_card",
    "curation_quality_prune",
    "egress_pyds_batch_write",
    "embedding_quantize_int8",
    "events_burst_detection",
    "events_ewma_value",
    "events_gap_fill_resample",
    "events_hourly_rollup",
    "events_inter_arrival_stats",
    "events_robust_outliers_mad",
    "events_session_conversion_by_depth",
    "events_zscore_outliers",
    "join_anti_inactive_customers",
    "join_band_lookup_nested_loop",
    "join_full_outer_nation_wealth",
    "join_left_outer_order_counts",
    "join_range_price_bands",
    "join_right_outer_sampled_customers",
    "join_semi_big_spenders",
    "layout_compact_small_files",
    "layout_manifest_zonemap",
    "layout_partition_pruning",
    "maintenance_compaction_planner",
    "maintenance_retention_vacuum",
    "multimodal_audio_features",
    "multimodal_binary_features",
    "multimodal_resize_thumbnails",
    "sample_reproducible",
    "sample_stratified_by_language",
    "scalar_array_functions",
    "scalar_bitwise_functions",
    "scalar_date_functions",
    "scalar_json_extraction",
    "scalar_map_json_keys",
    "scalar_math_case_tiers",
    "scalar_null_handling",
    "setops_segment_overlap",
    "sort_limit_top_orders",
    "source_at_timestamp_tail",
    "source_reshard_replay_rollup",
    "split_train_valid_test",
    "stream_backfill_union_live",
    "stream_dedup_within_watermark",
    "stream_distinct_users_hll",
    "stream_egress_pyds_relay",
    "stream_heavy_hitters_mg",
    "stream_incremental_dedup_store",
    "stream_ingest_hourly_rollup",
    "stream_observed_ingest_metrics",
    "stream_session_windows",
    "stream_stateful_running_totals",
    "stream_windowed_topk",
    "subquery_scalar_above_avg",
    "text_language_id",
    "text_quality_linear_classifier",
    "text_quality_scores",
    "text_stopword_ratio",
    "text_top_tokens",
    "tpch_q10_returned_items",
    "tpch_q12_ship_speed_priority",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_part_supplier_counts",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_dormant_customers",
    "tpch_q3_top_orders",
    "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue",
    "udf_pandas_scalar_shannon",
    "window_rank_dense_ntile",
    "window_rows_frame_moving_avg",
    "window_running_totals",
    "window_topk_orders_per_customer",
]

# Oracle-infeasible at sf1: a query lands here when its deliberately-
# naive DuckDB oracle cannot run at sf1 even though the engine can.
# similarity_knn_graph_blocked lived here briefly — its uncapped label
# cells made the oracle's pairwise join ~26B unnested rows — until the
# _KNN_BLOCK size cap made BOTH sides linear.
# graph_triangle_count_cosupply: the oracle materializes the kept×kept
# co-supply self-join + three-way closure single-node; at sf1 DuckDB's
# temp spill exceeded the VM's disk (ENOSPC at ~70 GB) while the engine
# side finishes the same shape distributed in ~2 min. The ENGINE is
# still timed at sf1 by scaling_canary.py (no oracle there).
# graph_triangle_census_selfcheck shares the same naive-closure oracle
# shape — same infeasibility. Round 9: these names are no longer EXCLUDED
# from the sf1 correctness canary; they run in driver_sim's --rows-only
# mode (rows-only row in CORRECTNESS_SF1_canary.json). For the selfcheck
# that row is a REAL gate — the query raises unless its two independent
# triangle plans agree exactly — which closes the registry's last sf1
# blind spot (round-8 VERDICT ask #2).
SF1_ORACLE_INFEASIBLE: set[str] = {
    "graph_triangle_count_cosupply",
    "graph_triangle_census_selfcheck",
}

if __name__ == "__main__":
    import sys

    if "--rows-only" in sys.argv:
        # the names the sf1 canary must pass to driver_sim --rows-only
        print(",".join(sorted(SF1_ORACLE_INFEASIBLE)))
    elif "--correctness" in sys.argv:
        # full registry: oracle-infeasible names are included (the canary
        # pairs this with --rows-only so driver_sim skips their oracles)
        print(",".join(SF1_CANARY))
    else:
        print(",".join(SF1_CANARY))
