"""Driver-contract guard: every queries() entry must analyze cleanly and have
a matching oracle (or be knowingly oracle-less), without running the driver.

Catalyst analysis (df.columns) catches missing columns, bad casts, and typos
per query at sf0.001 cost — cheap insurance that a refactor can't ship a
registry entry that only fails inside the driver's harness.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)

QUERIES = sorted(E.queries().items())


@needs_testdata
def test_every_query_has_an_oracle(spark):
    missing = set(E.queries()) - set(E.oracle_sql())
    assert not missing, f"queries without oracle SQL: {sorted(missing)}"
    dangling = set(E.oracle_sql()) - set(E.queries())
    assert not dangling, f"oracles without queries: {sorted(dangling)}"


@needs_testdata
@pytest.mark.parametrize("name,fn", QUERIES, ids=[n for n, _ in QUERIES])
def test_query_analyzes(spark, name, fn):
    if name.startswith("ob_stream"):
        pytest.skip("streaming query executes on construction; covered by driver + streaming tests")
    df = fn(spark, SF_DIR)
    assert df.columns, name


# Entries allowed past the driver's 50-entry correctness cap. r6 rotation
# policy (amended per the r5 verdict): "latest driver row is red" outranks
# every other head-priority rule, then never-sampled, then behavior-changed,
# then oldest-green. Everything here carries a green r3/r4/r5 driver row AND
# full local-gate + pytest coverage; the head is the auditable _R6_HEAD list
# in __spark_entry__.py.
DEMOTED_TAIL = {
    "orders_merge_stream",
    "q22_dormant_customers",
    "ob_vwap_buckets",
    "q15_top_supplier",
    "documents_sentences",
    "q12_late_shipments",
    "q14_promo_revenue",
    "q4_priority_count",
    "q7_volume_shipping",
    "q17_small_qty_revenue",
    "q20_concentrated_suppliers",
    "q18_large_orders",
    "events_cohort_setops",
    "q19_disjunctive_revenue",
    "events_grouping_sets",
    "ob_l1_metrics",
    "events_props_variant",
    "events_pseudonymize",
    "events_stream_dropdup",
    "dedup_stream_survivors",
    "text_repetition",
    "text_contamination",
    "orders_price_bands",
    "events_sessionize_stream_append",
    "ob_consistency_n1_n2",
    "part_hconcat",
    "events_jsonl_roundtrip",
    "documents_profile",
    "embeddings_quantize_int8",
    "documents_pack_sequences",
    "events_zorder_key",
    "sink_roundtrip",
    "text_clean",
    "documents_category_index",
    "events_csv_roundtrip",
    "q10_returned_items",
    "events_props_json",
    "documents_domain_mix",
    "q6_forecast_revenue",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_audio_features",
    "text_vocabulary",
    "text_tfidf",
    "text_token_counts",
    "ob_nbbo_keyed",
    "documents_bpe_pair_counts",
    "dedup_incremental",
    "ob_ofi",
    "ob_ohlc_bars",
    "events_ols_trend",
    "events_markov_transitions",
    "events_anomaly_zscore",
    "events_interpolate_daily",
    "documents_weighted_sample",
    "documents_fuzzy_pairs",
    "part_triangle_counts",
    "ob_depth_profile",
    "supplier_similarity",
    "ann_recall_lsh",
    "events_winsorize",
    "orders_orc_roundtrip",
    "events_pattern_3grams",
    "documents_chunks",
    "documents_hash_embed_knn",
    "embeddings_kmeans_step",
    "ob_nbbo_keyed_chunked",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q16_supplier_variety",
    "q21_waiting_suppliers",
    "events_attribution_stream",
    "documents_stratified_sample",
    "events_value_deciles",
    "supplier_pagerank",
    "events_user_profile_stream",
    "part_snapshot_diff",
    "events_attribution_stream_outer",
    "ob_realized_variance",
    "events_user_distinct_sketch_rollup",
    "orders_quality_report",
    "events_funnel",
    "events_retention_cohorts",
    "events_hourly_stream_append",
    "events_enriched_stream",
    "bookgen_source_agg",
    "documents_curation_pipeline",
    "events_asof_next_purchase",
    "part_unpivot_metrics",
    "events_user_type_profile",
    "text_dup_spans",
    "documents_quality_filter",
    "orders_merge_apply",
    "embeddings_outliers",
    "q13_customer_distribution",
    "q1_pricing_summary",
    "events_user_distinct_approx",
    "documents_hash_sample",
    "ann_cosine_topk_lsh",
    "customers_without_orders",
    "dedup_components_star",
    "events_hourly",
    "ob_updates_top1",
    "ob_updates_top3",
    "ob_stream_keyed_mutations_top2",
    "ob_relational_mutations_top2",
    "events_hourly_pivot",
    "orders_rolling_revenue",
    "events_value_quantiles_approx",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "documents_budget_pack",
    "text_docfreq_score",
    "text_redact_pii",
    "ann_cosine_topk",
    "dedup_embedding",
    "text_quality",
    "ob_mutations_top2",
    "ob_modify_top2",
    "ob_keyed_mutations_top2",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "part_categorize",
    # r6 session-4 demotions for the sixteen classifier/PQ/eval entries:
    # every one carries a green r1-r5 driver row (see the _R6_HEAD comment
    # block naming them as the waiting tail)
    "events_heavy_hitters",
    "supplier_nation_summary",
    "ann_cosine_topk_ivf",
    "dedup_simhash",
    "ob_relational_updates_top3",
    "ob_relational_modify_top2",
    "ob_relational_keyed_mutations_top2",
    "topk_orders_per_customer",
    "events_user_running_total",
    "events_rollup",
    "events_value_quantiles",
    "ann_cosine_topk_blas",
    "text_winnow_fingerprints",
    "text_fingerprint",
    "text_lang_id",
    "ob_conversion_top2",
    # r6 session-5 demotions for the four new never-sampled entries
    # (events_countmin_rollup, orders_bloom_semijoin, documents_oov_rate,
    # text_postings). The three below were behavior-changed in r6 (star
    # default / streamed fold) but never-sampled outranks behavior-changed
    # per the amended policy; all three are local-gate green since the
    # change. ann_recall_pq is the one never-sampled exception allowed in
    # the tail: its recall-eval join path is driver-covered by
    # ann_recall_pq_residual / ann_recall_pq_trained (identical harness
    # code), and its own output stays pinned by the local gate + pytest.
    "dedup_components",
    "documents_deduped",
    "ob_chunked_mutations_top2",
    "ann_recall_pq",
    # r6 session-6 demotions for the six new never-sampled entries
    # (events_item_cooccurrence, events_top_similar_items,
    # orders_incremental_agg, events_hll_rollup, documents_pmi_keywords,
    # documents_zipf_profile). Each of the six below is never-sampled but
    # fully code-path-covered by a RETAINED head sibling (the ann_recall_pq
    # precedent; rationale per entry in the _R6_HEAD comment block):
    "events_heavy_hitters_windowed",
    "text_dup_span_cuts",
    "embeddings_pq_codes",
    "embeddings_pq_topk",
    "documents_classifier_step",
    "ann_recall_pq_residual",
    "embeddings_pq_ivf_topk",
    "documents_lm_score",
    # r6 session-7 demotions for the seven new never-sampled entries
    # (events_sliding_active_users, events_time_decay,
    # events_negative_samples, embeddings_hard_negatives, ann_eval_mrr,
    # events_k_anonymity, events_sliding_stream). Rationale per entry in
    # the _R6_HEAD comment block; ann_recall_dims starts in the tail (its
    # approx side is driver-covered cosine_topk_bruteforce, its harness
    # the driver-covered topk_recall).
    "text_bm25",
    "ann_recall_pq_trained",
    "embeddings_semdedup_incremental",
    "embeddings_kmeans_train",
    "documents_temperature_mix",
    "dedup_components_prop",
    "ob_book_asof",
    "ann_recall_dims",
    # r6 session-8 demotions for the five new never-sampled entries
    # (events_user_type_history, events_late_arrivals, events_debounced,
    # documents_quality_percentile, documents_split_contamination).
    # Rationale per entry in the _R6_HEAD comment block.
    "embeddings_knn_graph",
    "documents_split_assign",
    "events_top_similar_items",
    "events_reservoir_sample",
    "embeddings_random_projection",
    # r6 session-9 demotions for the two drift monitors
    # (events_value_drift, embeddings_centroid_drift); rationale in the
    # _R6_HEAD comment block.
    "documents_oov_rate",
    "events_k_anonymity",
    # r6 session-10 demotion for events_drift_stream (which exercises the
    # same agg_stream machinery verbatim; rationale in _R6_HEAD (2j))
    "orders_rollup_stream",
    # r6 session-11: documents_wordfreq_stream demoted for
    # sink_schema_evolution; documents_bpe_fertility tail-born (rationale
    # in _R6_HEAD (2k))
    "documents_wordfreq_stream",
    "documents_bpe_fertility",
    # r6 session-12 demotions for ann_hamming_rerank +
    # orders_incremental_join + events_quantile_histogram; rationale in
    # _R6_HEAD (2l)
    "embeddings_covariance",
    "events_anomaly_mad",
    "events_countmin_rollup",
    # tail-born (ann_recall_dims precedent): pass 1 is the retained
    # events_quantile_histogram's value_histogram cells build, pass 2 an
    # orderBy+limit TakeOrderedAndProject (multi-green topk shape); the
    # driver-side bin walk is pure Python pinned by pytest
    "events_quantiles_exact_twopass",
    # tail-born: composition-only plan (count aggs, counts-sized inner
    # join, TakeOrderedAndProject, unionByName — every shape multi-green);
    # the Σ n_l·n_r accounting is pinned by tests/test_skew.py
    "events_selfjoin_size",
    # tail-born: the chain is the retained (head) events_quantile_histogram's
    # verbatim with sum(weight) replacing count in the cells build; the
    # weighted branch is pinned by test_frequency.py + the local gate
    "documents_token_weighted_length",
    # tail-born: the train+score chain is verbatim the retained (head)
    # documents_classifier_score; the bins rollup on top is one doc-sized
    # equi-join + groupBy, exact-bucket math pinned by test_classifier.py
    "documents_classifier_reliability",
    # r6 session-12 demotion for events_quantiles_exact_by_type; rationale
    # in _R6_HEAD (2l)
    "documents_char_entropy",
    # r6 session-12 demotion for orders_retraction_agg; rationale in
    # _R6_HEAD (2l)
    "dedup_recall_banding",
    # tail-born: fold/replay machinery is the retained events_drift_stream's
    # verbatim (fold_batch/_CURRENT/init_table/read_current), the combine is
    # head sibling orders_incremental_join's, and the per-batch stream-static
    # enrich join is driver-green via events_enriched_stream; convergence
    # pinned by test_agg_stream.py
    "orders_join_view_stream",
}


def test_priority_queries_within_driver_cap():
    """r7+: the head-50 is GENERATED from the recorded driver history
    (tools/apply_rotation.py), so 'needs signal' is no longer the r6
    hand-curated DEMOTED_TAIL complement — it is exactly the stale-red and
    never-driver-sampled entries. Every one of those must occupy the head,
    up to the 50-entry driver cap; when they exceed the cap, the entire
    head must come from that priority class (nothing green may displace
    an unsampled entry)."""
    from tools.rotation import load_history

    names = list(E.queries())
    first50 = names[:50]
    hist = load_history()
    priority = []
    for n in names:
        runs = hist.get(n)
        if not runs or not runs[-1][1]:  # never sampled, or latest row red
            priority.append(n)
    if len(priority) <= 50:
        missed = [n for n in priority if n not in set(first50)]
        assert not missed, (
            f"stale-red/never-sampled entries fell past the 50-entry driver "
            f"cap: {missed} — regenerate the head (tools/apply_rotation.py)"
        )
    else:
        impostors = [n for n in first50 if n not in set(priority)]
        assert not impostors, (
            f"driver-green entries occupy head slots while unsampled ones "
            f"wait: {impostors} — regenerate the head (tools/apply_rotation.py)"
        )


@needs_testdata
def test_entry_contract(spark):
    df = E.entry(spark)
    assert len(df.columns) >= 13
    assert df.count() > 0


def test_streaming_rigs_share_one_lifecycle():
    """Every streaming rig runs through ``_run_stream``/``_await`` and every
    rig that writes files through ``_in_scratch``: one bounded wait, one
    memory-sink writer, one scratch directory with its one removal and one
    two-file stream input in the whole registry, so a new rig cannot copy
    the lifecycle (and its cleanup gaps) inline again."""
    with open(E.__file__) as fh:
        src = fh.read()
    assert src.count("awaitTermination") == 1
    assert src.count('format("memory")') == 1
    assert src.count("mkdtemp") == 1
    assert src.count("rmtree") == 1
    assert src.count("maxFilesPerTrigger") == 1
