"""Query plan registry: every engine operator exposed as a named query.

Importing this package registers all query modules. ``REGISTRY`` maps the
stable ``q_*`` names from SURVEY.md §2 to (Spark builder, DuckDB oracle)
pairs consumed by ``__spark_entry__``.

The external driver evaluates the FIRST 50 registry entries in insertion
order per round, so insertion order is part of the verification contract.
Every registered query has carried a green official stamp since round 7
and every LATEST stamp is green, so since round 8 the window is PURE
RE-PROOF ROTATION: changed-plan queries first, then the stalest stamps.

The current window (groups A-C of ``_DRIVER_ORDER``): (A) the plans
whose shared operators changed when jaccard_pairs and containment_pairs
went back to one row per document (q_dedup_ngram_jaccard,
q_dedup_containment, q_lsh_recall and q_dedup_mllib_lsh, whose truth
sides call jaccard_pairs). (A') The plans touched when the six
default-off valves were deleted — q_token_rarity (rarity.preagg),
q_sessionize (session.chunked), q_heavy_hitters (hh.cms),
q_equidepth_histogram (equidepth.valuedomain) and q_dedup_cluster
(cc.algorithm=minlabel); their default plans are unchanged. (A'') The
remaining r15/r16 rewrites never checked against the driver oracle: the
distinct-value collapses (q_semantic_dedup, q_dedup_fuzzy,
q_dedup_embedding — functions/groupcollapse.py) and the fan_out(by=)
keyed repartitions in q_classify_keywords, q_variant_json and q_sql_udf.
(B) The q_group_stats canary. (C) The 34 oldest official stamps (r6
complete, r7 complete, r9 partial). Earlier windows' rationales live in
git history. Keep ROTATION_PENDING for anything newly registered.
"""

from news_categorization_big_data_spark.plans.registry import REGISTRY, QuerySpec, register

# Import for side effect: populate REGISTRY.
from news_categorization_big_data_spark.plans import (  # noqa: E402,F401
    relational,
    scalar_functions,
    timeseries,
    text,
    dedup,
    similarity,
    ml,
    udf,
    sources,
    udtf,
    sampling,
    reshape,
    tpch,
    tpch_deep,
    tpch_final,
    analytics,
    mutation,
    olap,
    corpus,
    warehouse,
    quality,
    retrieval,
    lakehouse,
    robust,
    features,
    refinement,
)

#: Driver-facing evaluation order (see module docstring). Names absent
#: from this list would be appended in module-import order; the list is
#: asserted complete below so drift fails fast.
_DRIVER_ORDER = [
    # ---- ROTATED WINDOW (first 50 = the driver's correctness window) ----
    # Composition (priority order, the round-8 convention): changed
    # plans first, then the canary, then the OLDEST official stamps.
    # -- A. plans whose builders or shared operators changed: the
    #       per-document jaccard_pairs / containment_pairs revert
    #       (q_dedup_mllib_lsh's truth side is jaccard_pairs too).
    "q_dedup_ngram_jaccard",
    "q_dedup_containment",
    "q_lsh_recall",
    "q_dedup_mllib_lsh",
    # -- A'. plans touched when the six default-off valves were deleted
    #       (rarity.preagg, session.chunked, hh.cms,
    #       equidepth.valuedomain, cc.algorithm=minlabel,
    #       groupcollapse.cap) — default plans unchanged, awaiting their
    #       first stamp since.
    "q_token_rarity",
    "q_sessionize",
    "q_heavy_hitters",
    "q_equidepth_histogram",
    "q_dedup_cluster",
    # -- A''. the remaining r15/r16 rewrites never checked against the
    #       driver oracle: the distinct-value collapses (semantic/fuzzy/
    #       embedding dedup) and the fan_out(by=) keyed repartitions
    #       (q_classify_keywords, q_variant_json, q_sql_udf).
    "q_semantic_dedup",
    "q_dedup_fuzzy",
    "q_dedup_embedding",
    "q_classify_keywords",
    "q_variant_json",
    "q_sql_udf",
    # -- B. standing canary (every window).
    "q_group_stats",
    # -- C. the 34 oldest official stamps (r6 complete, r7 complete,
    #       r9 partial; oldest-first, alphabetical within a round).
    "q_ml_eval",
    "q_seq_cooccur",
    "q_snapshot_diff",
    "q_sql_recursive",
    "q_table_checksum",
    "q_target_encode",
    "q_weighted_median",
    "q_zone_map",
    "q_compaction_bins",
    "q_dedup_exact",
    "q_dedup_prefix",
    "q_embedding_dim_stats",
    "q_er_blocking",
    "q_group_approx",
    "q_histogram2d",
    "q_hll_distinct",
    "q_label_centroids",
    "q_pipeline_curate",
    "q_pq_search",
    "q_quantile_sketch",
    "q_sample_per_group",
    "q_sample_reservoir",
    "q_sample_wor",
    "q_scan_xml",
    "q_skew_profile",
    "q_split_leakproof",
    "q_stream_trending",
    "q_top_paths",
    "q_tpch_q1",
    "q_twap",
    "q_union_by_name",
    "q_chi2_terms",
    "q_component_sizes",
    "q_gini_spend",
    # ---- driver's 50-entry window ends here ----
    # -- tail: the remaining r9 stamps head the next window, then the
    #    prior rotation order, then the previous window's entries
    #    (freshest stamps last). All remain registered and
    #    pytest/driver_sim-proven every round.
    "q_graph_degree_dist",
    "q_graph_jaccard_neighbors",
    "q_group_collect",
    "q_group_counts",
    "q_growth_accounting",
    "q_join_left_outer",
    "q_join_multiway",
    "q_join_semi",
    "q_mad_outliers",
    "q_scan_parquet",
    "q_scan_range_pred",
    "q_sequence_gaps",
    "q_skyline",
    "q_stream_dedup",
    "q_stream_sliding",
    "q_stream_tumbling",
    "q_stream_watermark",
    "q_tfidf_pairs",
    "q_topk_per_group",
    "q_tpch_q18",
    "q_tpch_q16",
    "q_scan_evolved",
    "q_pipeline_digest",
    "q_join_broadcast",
    "q_stream_session",
    "q_graph_triangles",
    "q_minhash_jaccard_est",
    "q_inverted_index",
    "q_curation_funnel",
    "q_sink_pyds_roundtrip",
    "q_ml_classify",
    "q_ml_kmeans",
    "q_sim_ann_lsh",
    "q_grouping_sets",
    "q_dq_checks",
    "q_cube",
    "q_scan_zorder",
    "q_sink_partitioned_roundtrip",
    "q_group_quantiles",
    "q_agg_filtered",
    "q_project_cast",
    "q_decay_agg",
    "q_value_histogram",
    "q_zscore_outliers",
    "q_grouped_moments",
    "q_winsorize",
    "q_ab_ttest",
    "q_anova_f",
    "q_ewma_smooth",
    "q_bootstrap_ci",
    "q_did_effect",
    "q_cuped",
    "q_experiment_readout",
    "q_null_semantics",
    "q_cusum_changepoint",
    "q_semi_additive",
    "q_attrib_channel",
    "q_rolling_corr",
    "q_incremental_agg",
    "q_salted_agg",
    "q_calibration_ece",
    "q_pq_assign",
    "q_json_to",
    "q_unpivot_long",
    "q_scan_csv",
    "q_join_salted",
    "q_peak_concurrency",
    "q_lift_bands",
    "q_survival_hazard",
    "q_rrf_fusion",
    "q_dedup_keep_best",
    "q_char_classes",
    "q_repetition_stats",
    "q_dedup_passage",
    "q_summarize_extractive",
    "q_dedup_near",
    "q_dedup_incremental",
    "q_dedup_minhash",
    "q_collocations",
    "q_bigram_lm",
    "q_doc_fluency",
    "q_decontaminate",
    "q_multimodal_decode",
    "q_audio_decode",
    "q_video_frames",
    "q_bpe_pair_counts",
    "q_doc_commonness",
    "q_join_full_outer",
    "q_pack_sequences",
    "q_pivot_wide",
    "q_scan_orc",
    "q_scan_pyds",
    "q_sql_correlated",
    "q_sql_lateral",
    "q_tpch_q13",
    "q_udtf_chunks",
    "q_udtf_polymorphic",
    "q_vocab_coverage",
    "q_quality_buckets",
    "q_tpch_q6",
    "q_tpch_q10",
    "q_tpch_q22",
    "q_join_bucketed",
    "q_hhi_concentration",
    "q_ivm_join_agg",
    "q_rfm_segments",
    "q_array_hof",
    "q_mix_sources",
    "q_sample_stratified",
    "q_split_train_eval",
    "q_array_join",
    "q_date_fmt",
    "q_field_defaults",
    "q_filter_neq",
    "q_filter_null_guard",
    "q_json_from",
    "q_map_lookup",
    "q_math_arith",
    "q_membership",
    "q_project_compute",
    "q_set_except",
    "q_set_intersect",
    "q_set_union",
    "q_sort_limit",
    "q_str_case",
    "q_str_concat",
    "q_str_slice",
    "q_str_split_len",
    "q_str_trim_empty",
    "q_text_clean",
    "q_text_tokens",
    "q_window_frame",
    "q_window_lag",
    "q_window_rank",
    "q_lang_id",
    "q_multimodal_binary",
    "q_pii_scrub",
    "q_quality_filter",
    "q_quality_score",
    "q_text_stats",
    "q_token_count",
    "q_top_terms_per_doc",
    "q_doc_fingerprint",
    "q_knn_label",
    "q_tpch_q2",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q14",
    "q_tpch_q15",
    "q_tpch_q17",
    "q_tpch_q19",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_join_inner_equi",
    "q_join_theta_range",
    "q_url_normalize",
    "q_percent_change",
    "q_tpch_q12",
    "q_offset_skip",
    "q_join_anti",
    "q_benford_digits",
    "q_alloc_budget",
    "q_funnel",
    "q_retention_cohort",
    "q_window_distribution",
    "q_rank_normalize",
    "q_ks_drift",
    "q_ml_auc",
    "q_grouped_auc",
    "q_rolling_median",
    "q_resample_ohlc",
    "q_multimodal_cols",
    "q_bitmap_setops",
    "q_group_entropy",
    "q_scan_json",
    "q_udf_scalar",
    "q_rollup",
    "q_scan_partitioned",
    "q_table_profile",
    "q_udaf_grouped",
    "q_udtf_table_arg",
    "q_ab_srm",
    "q_graph_pagerank",
    "q_graph_bfs",
    "q_asof_join",
    "q_asof_forward",
    "q_asof_tolerance",
    "q_simhash_hamming",
    "q_cms_counts",
    "q_bloom_join",
    "q_batch_assign",
    "q_argmax_join",
    "q_embedding_quantize",
    "q_event_transitions",
    "q_gap_fill",
    "q_group_mode",
    "q_grouped_regression",
    "q_join_interval_overlap",
    "q_merge_upsert",
    "q_sample_weighted",
    "q_time_rollup_multi",
    "q_tpch_q4",
    "q_window_nth",
    "q_window_time_range",
    "q_bitmap_distinct",
    "q_bm25_rank",
    "q_conversion_latency",
    "q_dedup_simhash",
    "q_embedding_norms",
    "q_event_trigrams",
    "q_feature_hash",
    "q_itemset_pairs",
    "q_orphan_refs",
    "q_rate_anomaly",
    "q_regex_extract",
    "q_scd2_intervals",
    "q_seasonality",
    "q_sim_ann_ivf",
    "q_sim_search",
    "q_sliding_distinct",
    "q_tokenizer_fertility",
    "q_ann_recall",
    "q_cdc_apply",
    "q_corr_matrix",
    "q_date_arith",
    "q_date_dim",
    "q_geo_grid_join",
    "q_graph_kcore",
    "q_interval_coverage",
    "q_k_anonymity",
]


# Hard error, not assert: under `python -O` an assert would be stripped
# and a query missing from the order list would silently vanish from
# queries()/oracle_sql() at the REGISTRY rebuild below.
if set(_DRIVER_ORDER) != set(REGISTRY):
    raise RuntimeError(
        "driver order out of sync with registry: "
        f"missing={set(REGISTRY) - set(_DRIVER_ORDER)} "
        f"stale={set(_DRIVER_ORDER) - set(REGISTRY)}"
    )
# Length too, not just sets: a DUPLICATE entry would pass the set check
# while the dict rebuild silently keeps the first occurrence and shifts
# every later entry up one — pulling a tail query into the graded
# 50-entry window with no error (found once: a rotated-in query's tail
# copy was left behind).
if len(_DRIVER_ORDER) != len(REGISTRY):
    from collections import Counter as _Counter

    _dups = [n for n, c in _Counter(_DRIVER_ORDER).items() if c > 1]
    raise RuntimeError(f"driver order has duplicate entries: {_dups}")
_reordered = {name: REGISTRY[name] for name in _DRIVER_ORDER}
REGISTRY.clear()
REGISTRY.update(_reordered)

#: Queries registered AFTER the current round's window froze (or past
#: its 50-slot boundary): no official row yet; stamped by the next
#: round's window head. tests/test_driver_contract.py allows exactly
#: this set to sit outside the window row-less. Empty for round 13:
#: q_quality_buckets was stamped in the r12 window and q_url_normalize
#: sits in the r13 window head (group A).
ROTATION_PENDING: frozenset[str] = frozenset()

__all__ = ["REGISTRY", "QuerySpec", "register", "ROTATION_PENDING"]
