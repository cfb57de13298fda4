"""Dump formatted physical plans for the bench headline queries.

Usage: python tools/dump_plans.py [--sf DIR] [--out PLANS.md]

The output is the evidence trail for plan-quality review: broadcast vs
shuffle joins, pushed filters, partial aggregation, codegen stages, and the
segmented-scan shuffle keys — the same properties tests/test_plans.py gates.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "ob_relational_mutations_top2",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "ann_cosine_topk_ivf",
    "text_quality",
    "events_asof_purchase",
    "events_lead_lag",
    "events_value_quantiles_approx",
    "documents_hash_sample",
    "text_redact_pii",
    "orders_price_bands",
    "text_repetition",
    "text_contamination",
    "text_docfreq_score",
    "documents_budget_pack",
    "events_hourly_pivot",
    "orders_rolling_revenue",
    "documents_domain_mix",
    "ob_consistency_n1_n2",
    "events_csv_roundtrip",
    "documents_pack_sequences",
    "embeddings_quantize_int8",
    "documents_profile",
    "events_zorder_key",
    "q4_priority_count",
    "q7_volume_shipping",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "events_cohort_setops",
    "text_dup_spans",
    "documents_quality_filter",
    "orders_merge_apply",
    "embeddings_outliers",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q12_late_shipments",
    "q16_supplier_variety",
    "q17_small_qty_revenue",
    "q20_concentrated_suppliers",
    "q21_waiting_suppliers",
    "documents_stratified_sample",
    "events_value_deciles",
    "events_grouping_sets",
    "supplier_pagerank",
    "part_snapshot_diff",
    "ob_nbbo_keyed",
    "ob_vwap_buckets",
    "ob_l1_metrics",
    "ob_realized_variance",
    "ob_ofi",
    "ob_ohlc_bars",
    "ob_depth_profile",
    "events_ols_trend",
    "events_markov_transitions",
    "events_anomaly_zscore",
    "events_interpolate_daily",
    "documents_weighted_sample",
    "documents_fuzzy_pairs",
    "part_triangle_counts",
    "supplier_similarity",
    "events_winsorize",
    "events_pattern_3grams",
    "documents_chunks",
    "documents_hash_embed_knn",
    "embeddings_kmeans_step",
    "ann_recall_lsh",
    "orders_orc_roundtrip",
    # r5: segmented default fills + sketch-prune heavy hitters
    "ob_nbbo_keyed_chunked",
    "part_hconcat",
    "events_heavy_hitters",
    "ann_cosine_topk_lsh",
    # r6: keyed heavy hitters, end-to-end BPE tokenize, auto components,
    # BM25 + hybrid RRF retrieval
    "events_heavy_hitters_by_type",
    "documents_bpe_tokens",
    "dedup_components",
    "text_bm25",
    "documents_hybrid_search",
    # r6 session 2: semantic dedup (batch + incremental), knn graph,
    # bigram LM, DSIR, span cuts (report + apply), split labels, JL
    # projection
    "embeddings_semdedup",
    "embeddings_semdedup_incremental",
    "embeddings_knn_graph",
    "documents_lm_score",
    "documents_dsir_weights",
    "text_dup_span_cuts",
    "text_apply_span_cuts",
    "documents_split_assign",
    "embeddings_random_projection",
    # r6 session 3: PQ family + trained Lloyd + quality rules
    "embeddings_pq_ivf_topk",
    "embeddings_kmeans_train",
    "documents_gopher_rules",
    "documents_ngram_novelty",
    "documents_curriculum_order",
    # r6 session 4: classifier chain, MMR, recall eval, leakage split,
    # held-out LM, covariance, as-of book sampling, robust stats, PQ
    # residual + trained
    "documents_classifier_score",
    "ann_mmr_rerank",
    "dedup_recall_banding",
    "documents_leakage_split",
    "documents_lm_heldout",
    "embeddings_covariance",
    "ob_book_asof",
    "events_anomaly_mad",
    "documents_char_entropy",
    "documents_quality_correlation",
    "embeddings_pq_ivf_residual_topk",
    "embeddings_pq_trained_topk",
    # r6 session 5-6: sketch rollups, Bloom audit, inverted index, recsys,
    # incremental agg maintenance, PMI/Zipf
    "events_countmin_rollup",
    "orders_bloom_semijoin",
    "text_postings",
    "events_item_cooccurrence",
    "orders_incremental_agg",
    "events_hll_rollup",
    "documents_pmi_keywords",
    "documents_zipf_profile",
    # r6 session 7-8: sliding distinct, time decay, negative sampling,
    # hard negatives, runs/debounce/late audits, split contamination
    "events_sliding_active_users",
    "events_time_decay",
    "events_negative_samples",
    "embeddings_hard_negatives",
    "events_user_type_history",
    "events_debounced",
    "events_late_arrivals",
    "documents_split_contamination",
    "documents_quality_percentile",
    # r6 session 9-11: drift monitors, schema evolution, BPE fertility
    "events_value_drift",
    "embeddings_centroid_drift",
    "sink_schema_evolution",
    "documents_bpe_fertility",
    # r6 session 12: binary-quantized retrieval, incremental join views,
    # quantile-histogram rollup, two-pass exact quantiles, join-size audit
    "ann_hamming_rerank",
    "orders_incremental_join",
    "events_quantile_histogram",
    "events_quantiles_exact_twopass",
    "events_selfjoin_size",
    # r7: bucketed-interval session overlap, Theil-Sen capped pairs, lag-k
    # autocorrelation, co-located bucketed SMJ, distributed BPE training,
    # two-phase Pareto skyline
    "events_session_overlap",
    "events_theil_sen",
    "events_acf",
    "sink_bucketed_join",
    "documents_bpe_train_distributed",
    "documents_pareto_frontier",
    "events_ccf",
    "sink_compaction",
    "documents_unigram_vocab",
    "documents_unigram_tokens",
    "documents_unigram_em_vocab",
    "ob_updates_top10",
    # r8 session 2 / r9: deep-book folds at the monomorphization ceiling,
    # PassJoin segments, array-native jaccard shape
    "ob_updates_top20_deep",
    "ob_mutations_top10_deep",
    "ob_modify_top20_deep",
    "ob_relational_updates_top20_deep",
    "documents_fuzzy_pairs_segments",
    "dedup_ngram_jaccard_arrays",
    # r10: absolute-threshold heavy hitters (exact groupBy shape, no sketch)
    "events_heavy_hitters_abs",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    import __spark_entry__ as E
    from polars_order_book_spark.session import get_spark

    spark = get_spark("dump-plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    # Fail fast on list drift (r9 tools review): a typo'd HEADLINE entry
    # used to KeyError mid-loop, leaving a HALF-written PLANS.md that reads
    # as complete — the worst failure mode for an evidence artifact.
    unknown = [n for n in HEADLINE if n not in qs]
    if unknown:
        raise SystemExit(f"HEADLINE names not in the registry: {unknown}")

    n_err = 0
    with open(args.out, "w") as f:
        f.write("# Physical plans (formatted) — headline queries\n\n")
        f.write(f"Generated from `{args.sf}`. Pandas-UDF fold queries are "
                "omitted: their plan is one exchange by the book keys, a sort "
                "by (keys, seq) and a single MapInPandas.\n")
        for name in HEADLINE:
            # Per-name isolation: one query failing at plan-build must not
            # silently truncate every later section (same artifact-integrity
            # class as above) — the failure becomes part of the evidence.
            try:
                df = qs[name](spark, args.sf)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                f.write(f"\n## {name}\n\n```\n{plan}\n```\n")
            except Exception as exc:  # noqa: BLE001 — record in the artifact
                n_err += 1
                f.write(f"\n## {name}\n\nPLAN-BUILD ERROR: "
                        f"{type(exc).__name__}: {str(exc)[:500]}\n")
                print(f"ERROR {name}: {type(exc).__name__}: {str(exc)[:200]}")
    print(f"wrote {args.out} ({len(HEADLINE)} sections, {n_err} errors)")
    spark.stop()
    return 1 if n_err else 0


if __name__ == "__main__":
    sys.exit(main())
