import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("polars-order-book-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


def rows_by_seq(df, seq="seq"):
    """Collect to {seq: row-dict} for order-insensitive assertions."""
    return {r[seq]: r.asDict() for r in df.collect()}


# ---------------------------------------------------------------------------
# Slow-test marking (r11, VERDICT r10 item 2): the full suite outgrew the
# driver's verify window (2,579 s measured with --durations on this box; the
# r10 driver run was cut off mid-suite at ~52%). The 59 slowest tests —
# every call over ~7 s in that measured run, about 1,550 s of the total —
# are marked `slow` here centrally (auditable in one place, nodeid-exact;
# a second tier — every call over ~2.5 s in the first default-suite timing,
# another ~750 s — was appended after the first cut still measured 1,340 s
# against a ~1,350 s driver window)
# and excluded by the default `-m "not slow"` in pytest.ini. They are NOT
# dead weight: run the FULL suite with `python -m pytest tests/ -m ""`
# (the round-close gate does); the default run keeps every file's fast
# tests, so each operator family retains coverage in the default pass.
# ---------------------------------------------------------------------------
SLOW_TESTS = {
    "test_plans.py::test_registry_no_cartesian_no_unwhitelisted_bnlj",
    "test_dedup.py::test_fuzzy_segments_strategy_matches_buckets_exactly",
    "test_property_differential.py::test_property_modify_a_equals_b",
    "test_nbbo.py::test_nbbo_matches_bruteforce",
    "test_property_differential.py::test_property_updates_a_equals_b",
    "test_nbbo.py::test_nbbo_chunked_equals_global",
    "test_order_book_relational.py::test_differential_updates[7-1]",
    "test_property_differential.py::test_property_semdedup_matches_python_reference",
    "test_property_differential.py::test_property_nbbo_chunked_equals_global",
    "test_pipeline_ops.py::test_components_auto_falls_over_to_star_above_cap",
    "test_property_differential.py::test_property_dup_span_cuts_matches_python_reference",
    "test_registry.py::test_query_analyzes[orders_rollup_stream]",
    "test_frequency.py::test_property_keyed_exact_vs_bruteforce",
    "test_frequency.py::test_property_exact_vs_bruteforce",
    "test_order_book_relational.py::test_differential_updates[42-1]",
    "test_order_book_relational.py::test_differential_tiny_bucket_counts[updates-7]",
    "test_order_book_relational.py::test_differential_updates[7-3]",
    "test_order_book_relational.py::test_modify_zero_delta_events_keep_snapshot_rows",
    "test_bpe.py::test_distributed_trainer_matches_driver_on_toy_corpus",
    "test_property_differential.py::test_property_fuzzy_pairs_complete_within_block",
    "test_property_differential.py::test_property_triangle_count_matches_bruteforce",
    "test_dedup.py::test_fuzzy_pairs_candidate_budget_fails_fast_and_is_inert_when_under",
    "test_bpe.py::test_distributed_trainer_adversarial_overlaps",
    "test_order_book_relational.py::test_modify_to_mutations_explode",
    "test_order_book_relational.py::test_construction_triggers_zero_jobs",
    "test_classifier.py::test_separable_concept_reaches_perfect_accuracy",
    "test_classifier.py::test_step_matches_numpy_reference",
    "test_agg_stream.py::test_fold_batches_converge_to_full_recompute",
    "test_dedup.py::test_star_components_match_label_propagation_random",
    "test_order_book_streaming.py::test_stream_reorder_buffer_matches_sorted_batch_golden",
    "test_similarity.py::test_ivf_trained_centroids_improve_recall_on_clustered_data",
    "test_registry.py::test_query_analyzes[orders_merge_stream]",
    "test_stream_rig_drain.py::test_file_writing_rig_outlives_its_scratch_dir[orders_merge_stream]",
    "test_dedup.py::test_star_components_long_chain",
    "test_property_differential.py::test_property_mutations_a_equals_b",
    "test_order_book_relational.py::test_differential_updates[42-3]",
    "test_property_differential.py::test_property_gap_fill_monotone_between_neighbors",
    "test_streaming_recovery.py::test_windowed_agg_restart_equals_single_shot",
    "test_order_book_streaming.py::test_stream_matches_batch_across_microbatches[1]",
    "test_registry.py::test_query_analyzes[ann_recall_lsh]",
    "test_registry.py::test_query_analyzes[part_snapshot_diff]",
    "test_asof.py::test_asof_differential_vs_pandas_merge_asof",
    "test_order_book_chunked.py::test_property_fold_matches_naive_mutations",
    "test_dedup_streaming.py::test_drop_duplicates_within_watermark_dedups_and_evicts",
    "test_similarity_stream.py::test_topk_stream_replay_overwrites_instead_of_duplicating",
    "test_pipeline_ops.py::test_domain_mix_proportions_property",
    "test_graph.py::test_pagerank_matches_python_model",
    "test_registry.py::test_query_analyzes[sink_compaction]",
    "test_dedup.py::test_ngram_jaccard_guards_do_not_change_results",
    "test_order_book_streaming.py::test_stream_matches_batch_across_microbatches[2]",
    "test_incremental.py::test_join_delta_distributivity_any_split",
    "test_pipeline_ops.py::test_components_long_chain_converges",
    "test_registry.py::test_query_analyzes[q20_concentrated_suppliers]",
    "test_state_store.py::test_interval_join_rocksdb_matches_default",
    "test_registry.py::test_query_analyzes[ann_recall_pq]",
    "test_order_book_streaming.py::test_stream_reorder_horizon_zero_equals_in_order_contract",
    "test_order_book_chunked.py::test_property_fold_matches_naive_modify",
    "test_registry.py::test_query_analyzes[part_triangle_counts]",
    "test_order_book_streaming.py::test_stream_reorder_duplicate_pending_seq_fails_loudly",
    "test_profile_stream.py::test_profile_accumulates_across_micro_batches",
    "test_agg_stream.py::test_two_sequential_runs_both_fold_with_default_checkpoint",
    "test_join_stream.py::test_stream_left_outer_emits_null_for_unmatched",
    "test_property_differential.py::test_property_ofi_matches_python_model",
    "test_classifier.py::test_count_features_match_numpy",
    "test_registry.py::test_query_analyzes[orders_join_view_stream]",
    "test_agg_stream.py::test_replayed_batch_is_not_double_added",
    "test_order_book_relational.py::test_modify_negative_qty_null_prevs_is_plain_delete",
    "test_bpe.py::test_distributed_trainer_skips_null_words_like_driver",
    "test_merge.py::test_apply_changes_stream_folds_batches_and_versions",
    "test_agg_stream.py::test_join_view_fold_batches_converge_to_full_join_recompute",
    "test_registry.py::test_query_analyzes[orders_bloom_semijoin]",
    "test_registry.py::test_query_analyzes[ob_relational_updates_top20_deep]",
    "test_join_stream.py::test_stream_left_outer_flushes_closed_windows",
    "test_registry.py::test_query_analyzes[ann_recall_pq_residual]",
    "test_similarity.py::test_pq_ivf_topk_scores_match_pq_topk_on_shared_pairs",
    "test_skew.py::test_salted_pair_join_bounds_cell_sizes",
    "test_dedup.py::test_incremental_pair_scores_match_batch_verify",
    "test_recsys.py::test_golden_counts_and_similarity",
    "test_bpe.py::test_distributed_trainer_byte_identical_on_real_corpus",
    "test_registry.py::test_query_analyzes[ann_eval_mrr]",
    "test_recsys.py::test_min_pair_count_filters",
    "test_classifier.py::test_score_threshold_is_integer_compare",
    "test_asof.py::test_asof_backward_with_equal_ts_match",
    "test_dedup.py::test_ngram_jaccard_arrays_guards_identical",
    "test_bookgen.py::test_rows_match_formula_and_partitioning",
    "test_frequency.py::test_grouped_exact_quantiles_hypothesis",
    "test_similarity_stream.py::test_topk_stream_matches_batch_lsh",
    "test_join_stream.py::test_stream_matches_batch",
    "test_skew.py::test_minhash_lsh_salted_identical_on_adversarial_corpus",
    "test_bookgen.py::test_stream_reader_serves_same_rows",
    "test_dedup_streaming.py::test_survivor_mapping_sticky_across_batches",
    "test_registry.py::test_query_analyzes[dedup_components_prop]",
    "test_join_stream.py::test_stream_plan_is_symmetric_hash_join",
    "test_similarity.py::test_semdedup_salted_cell_cap_matches_unsalted",
    "test_dedup.py::test_banding_recall_eval_counts_truth_and_caught",
    "test_similarity.py::test_semdedup_incremental_self_id_pair_filtered_and_salt_equivalence",
    "test_streaming_recovery.py::test_dedup_stream_state_survives_restart",
    "test_registry.py::test_query_analyzes[ob_relational_updates_top3]",
    "test_order_book_streaming.py::test_stream_reorder_too_late_fails_query",
    "test_pipeline_ops.py::test_components_auto_matches_star_random",
    "test_dedup.py::test_prefix_filter_hash_order_identical_results",
    "test_asof.py::test_asof_forward",
    "test_asof.py::test_asof_null_payload_does_not_skip_back",
    "test_asof.py::test_book_asof_sampling_matches_fold_at_event_seqs",
    "test_dedup.py::test_ngram_jaccard_candidate_budget_fails_fast",
    "test_registry.py::test_query_analyzes[ann_cosine_topk_ivf]",
    "test_registry.py::test_query_analyzes[dedup_components_star]",
    "test_pipeline_ops.py::test_temperature_mix_quotas_and_determinism",
    "test_streaming_recovery.py::test_heavy_hitters_stream_state_survives_restart",
    "test_registry.py::test_query_analyzes[documents_classifier_stream]",
    "test_dedup.py::test_ngram_jaccard_arrays_impl_identical",
    "test_recsys.py::test_cap_bounds_power_user_but_popularity_stays_exact",
    "test_bpe.py::test_word_frequencies_exact",
    "test_session_streaming.py::test_sessionize_stream_availablenow_equals_batch",
    "test_registry.py::test_query_analyzes[dedup_components]",
    "test_asof.py::test_asof_null_on_and_null_by_never_match",
    "test_mining.py::test_hard_negatives_excludes_self_and_positives",
    "test_recsys.py::test_null_users_and_items_excluded",
    "test_frequency_stream.py::test_exact_regime_matches_batch_operator",
    "test_bpe.py::test_distributed_trainer_stops_when_fully_merged",
    "test_registry.py::test_query_analyzes[ann_recall_pq_trained]",
    "test_conversion_frames.py::test_hconcat_positional",
    "test_bpe.py::test_pair_counts_match_trainer_first_iteration",
    "test_frequency_stream.py::test_state_accumulates_across_micro_batches",
    "test_pipeline_ops.py::test_domain_mix_rates_and_determinism",
    "test_frequency_stream.py::test_min_count_exact_regime_matches_batch_operator",
    "test_state_store.py::test_book_stream_rocksdb_matches_default",
    "test_plans.py::test_sink_bucketed_join_is_exchange_free",
    "test_frequency.py::test_exact_quantile_two_pass_robust_to_bad_range",
    "test_similarity.py::test_semdedup_min_id_wins_is_exactly_pairwise",
    "test_recsys.py::test_top_similar_symmetrizes_and_ranks",
    "test_similarity.py::test_knn_graph_matches_bruteforce_on_identical_cluster",
    "test_registry.py::test_query_analyzes[embeddings_pq_trained_topk]",
    "test_dedup.py::test_prefix_filter_jaccard_matches_bruteforce_skewed_block[0.4]",
    "test_asof.py::test_asof_preserves_left_row_count",
    "test_registry.py::test_query_analyzes[ob_updates_top20_deep]",
    "test_ranges.py::test_interval_overlap_join_canonical_bucket_dedup",
    "test_similarity.py::test_semdedup_incremental_batch_rule_matches_batch_operator",
    "test_similarity.py::test_knn_graph_symmetric_candidates_and_rank_contract",
    "test_registry.py::test_query_analyzes[documents_classifier_reliability]",
    "test_similarity.py::test_pq_topk_matches_python_adc",
    "test_registry.py::test_query_analyzes[ann_recall_dims]",
    "test_constraints.py::test_all_rule_kinds_count_violations",
    "test_registry.py::test_query_analyzes[documents_deduped]",
    "test_order_book_relational.py::test_differential_tiny_bucket_counts[updates-3]",
    "test_skew.py::test_ivf_salted_probe_identical",
    "test_skew.py::test_neardup_embedding_salted_identical",
    "test_bpe.py::test_distributed_trainer_rejects_reserved_control_bytes",
    "test_sinks.py::test_partitioned_write_roundtrip_and_pruning",
    "test_registry.py::test_query_analyzes[documents_unigram_em_vocab]",
    "test_agg_stream.py::test_reservoir_per_key_exact_size_and_determinism",
    "test_registry.py::test_query_analyzes[orders_incremental_join]",
    "test_skew.py::test_salted_probe_join_pairs_meet_once",
    "test_similarity.py::test_ivf_topk_subset_of_bruteforce_with_exact_cosines",
    "test_graph.py::test_symmetrization_and_determinism",
    "test_similarity.py::test_zero_norm_vector_fails_loudly",
    "test_recsys.py::test_cap_tiebreak_is_item_asc",
    "test_asof.py::test_asof_tolerance_nulls_far_matches",
    "test_dedup.py::test_leakage_safe_split_keeps_neardups_together",
    "test_order_book_streaming.py::test_stream_multichunk_microbatch_folds_in_seq_order",
    "test_frequency.py::test_exact_quantile_two_pass_matches_rank_definition",
    "test_skew.py::test_salted_pair_join_equals_plain_join",
    "test_order_book_relational.py::test_differential_tiny_bucket_counts[updates-2]",
    "test_registry.py::test_query_analyzes[ann_cosine_topk_lsh]",
    "test_text.py::test_apply_span_cuts_removes_exactly_interval_union",
    "test_unigram.py::test_em_tokens_identical_to_local_em_costs",
    "test_nbbo.py::test_nbbo_default_plan_has_no_global_timeline_window",
    "test_dedup.py::test_fuzzy_pairs_finds_typo_neardups_and_blocks_by_length",
    "test_order_book_relational.py::test_differential_mutations[7-1]",
    "test_retrieval.py::test_mmr_lam_one_is_pure_relevance",
    "test_registry.py::test_query_analyzes[events_heavy_hitters_stream]",
    "test_registry.py::test_query_analyzes[embeddings_ann_stream]",
    "test_order_book_relational.py::test_differential_mutations_grouped",
    "test_frequency.py::test_grouped_exact_quantiles_matches_rank_definition",
    "test_order_book_golden.py::test_n1_and_n2_top_level_consistency",
    "test_registry.py::test_query_analyzes[ob_nbbo_keyed_bounded]",
    "test_similarity.py::test_blas_tie_break_matches_bruteforce_on_identical_vectors",
    "test_dedup.py::test_star_components_star_input_converges_immediately",
    "test_registry.py::test_query_analyzes[documents_fuzzy_pairs_segments]",
    "test_classifier.py::test_reliability_table_exact_buckets",
    "test_dedup.py::test_prefix_filter_jaccard_matches_bruteforce_skewed_block[0.7]",
    "test_conversion_frames.py::test_hconcat_positional_larger_roundtrip",
    "test_state_store.py::test_sessionize_stream_rocksdb_matches_default",
    "test_frequency_stream.py::test_pruning_regime_no_false_negatives_and_lower_bounds",
    "test_classifier.py::test_guardrails",
    "test_registry.py::test_query_analyzes[ob_nbbo_keyed]",
    "test_order_book_relational.py::test_differential_mutations[7-3]",
    "test_layout.py::test_zorder_sort_clusters_both_dimensions",
    "test_sql_parity.py::test_oracle_sql_runs_verbatim_on_spark[q14_promo_revenue]",
    "test_dedup.py::test_star_components_null_and_self_edges_ignored",
    "test_registry.py::test_query_analyzes[embeddings_pq_ivf_topk]",
    "test_order_book_relational.py::test_differential_mutations[42-1]",
    "test_constraints.py::test_empty_table_reports_zero_violations_not_null",
    "test_similarity.py::test_pq_topk_recall_on_separated_clusters",
    "test_registry.py::test_query_analyzes[orders_merge_apply]",
    "test_order_book_relational.py::test_differential_tiny_bucket_counts[mutations-3]",
    "test_sql_parity.py::test_oracle_sql_runs_verbatim_on_spark[q15_top_supplier]",
    "test_order_book_relational.py::test_differential_tiny_bucket_counts[mutations-7]",
    "test_order_book_relational.py::test_differential_mutations[42-3]",
    "test_similarity.py::test_blas_topk_matches_bruteforce",
    "test_dedup.py::test_fuzzy_pairs_adjacent_length_buckets_still_compared",
    "test_bpe.py::test_apply_bpe_greedy_rank_order_and_roundtrip",
    "test_skew.py::test_salted_bipartite_join_pair_budget_enforced",
    "test_nbbo.py::test_unseen_books_and_validation",
    "test_registry.py::test_query_analyzes[q8_market_share]",
    "test_similarity.py::test_centroid_outliers_finds_planted_outlier",
    "test_frequency_stream.py::test_null_keys_and_items_excluded",
    "test_mining.py::test_negative_samples_deterministic_and_salted",
    "test_unigram.py::test_em_vocab_distributed_equals_local",
    "test_sketch_membership.py::TestCountMin::test_estimate_is_one_sided",
    "test_registry.py::test_query_analyzes[events_attribution_stream_outer]",
    "test_sinks.py::test_partitioned_overwrite_is_idempotent",
    "test_pipeline_ops.py::test_pack_sequences_contiguity_property",
    "test_registry.py::test_query_analyzes[events_drift_stream]",
    "test_order_book_relational.py::test_differential_tiny_bucket_counts[mutations-2]",
    "test_registry.py::test_query_analyzes[ob_nbbo_keyed_chunked]",
    "test_graph.py::test_mass_approximately_conserved",
    "test_order_book_streaming.py::test_stream_updates_variant_matches_batch",
    "test_sql_parity.py::test_oracle_sql_runs_verbatim_on_spark[q19_disjunctive_revenue]",
    "test_diff.py::test_diff_rejects_duplicate_keys_including_null_pairs",
    "test_frequency.py::test_countmin_estimate_rejects_mismatched_parameters",
    "test_registry.py::test_query_analyzes[orders_quality_report]",
    "test_classifier.py::test_every_doc_scores_once_even_empty_text",
    "test_plans.py::test_dimension_joins_never_shuffle",
    "test_bpe.py::test_single_merge_closed_form_counts",
    "test_registry.py::test_query_analyzes[documents_classifier_score]",
    "test_sketch_membership.py::TestCountMin::test_absent_item_estimates_zero_when_cell_empty",
    "test_conversion_frames.py::test_hconcat_positional_plan_has_no_global_data_window",
}


def pytest_collection_modifyitems(config, items):
    import pytest as _pytest

    modules = {}
    for item in items:
        nodeid = item.nodeid.replace("\\", "/")
        if nodeid.startswith("tests/"):
            nodeid = nodeid[len("tests/"):]
        modules.setdefault(nodeid.split("::")[0], getattr(item, "module", None))
        if nodeid in SLOW_TESTS:
            item.add_marker(_pytest.mark.slow)

    # A renamed or deleted test would silently drop its entry and move the
    # slow test's replacement into the default tier: fail collection instead
    # when an entry's file is gone, or its function / class method is gone
    # from a collected module.
    here = os.path.dirname(os.path.abspath(__file__))
    stale = []
    for entry in SLOW_TESTS:
        path, *names = entry.split("[")[0].split("::")
        if not os.path.exists(os.path.join(here, path)):
            stale.append(entry)
            continue
        obj = modules.get(path)
        if obj is None:
            continue
        for name in names:
            obj = getattr(obj, name, None)
        if obj is None:
            stale.append(entry)
    if stale:
        raise _pytest.UsageError(
            "tests/conftest.py SLOW_TESTS names tests that no longer exist: "
            + ", ".join(sorted(stale))
        )
