"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line (kept under the
driver's 2000-char stdout tail, queries trimmed slowest-first if needed):
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
and writes the FULL per-query detail (all timings + medians) to
$BENCH_FULL_OUT (default bench_full_last.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as E
    from polars_order_book_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    headline = [
        "ob_updates_top3",
        "ob_mutations_top2",
        "ob_modify_top2",
        "ob_keyed_mutations_top2",
        "ob_chunked_mutations_top2",
        "ob_relational_mutations_top2",
        "q1_pricing_summary",
        "q3_top_revenue_orders",
        "q5_nation_revenue",
        "q8_market_share",
        "q9_product_profit",
        "q21_waiting_suppliers",
        "topk_orders_per_customer",
        "events_hourly",
        "events_sessionize",
        "events_value_quantiles_approx",
        "events_user_distinct_approx",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "ann_cosine_topk",
        "ann_cosine_topk_lsh",
        "ann_cosine_topk_blas",
        "ann_cosine_topk_ivf",
        "text_quality",
        "text_repetition",
        "text_contamination",
        "text_docfreq_score",
        "orders_price_bands",
        "documents_domain_mix",
        "documents_pack_sequences",
        "embeddings_quantize_int8",
        "events_csv_roundtrip",
        "multimodal_features",
        "ob_vwap_buckets",
        "ob_realized_variance",
        "part_snapshot_diff",
        "events_value_deciles",
        # r4 session-3 additions (part_triangle_counts deliberately excluded:
        # the sf0.1 co-order graph is dense and the O(m^1.5) wedge bound is
        # ~30s of real work — measured and documented in SCALE.md)
        "ob_ofi",
        "ob_ohlc_bars",
        "events_ols_trend",
        "events_markov_transitions",
        "events_anomaly_zscore",
        "events_interpolate_daily",
        "documents_weighted_sample",
        "documents_fuzzy_pairs",
        "events_winsorize",
        "events_pattern_3grams",
        "documents_chunks",
        "documents_hash_embed_knn",
        "embeddings_kmeans_step",
        # r5 additions: NBBO pair tracks the segmented-fill default flip
        # (keyed n=1 fold -> cross-book consolidation); heavy hitters tracks
        # the sketch-prune + exact-verify shape.
        "ob_nbbo_keyed",
        "ob_nbbo_keyed_chunked",
        "events_heavy_hitters",
        # r6 additions: keyed heavy hitters (per-segment Misra-Gries),
        # end-to-end BPE tokenize (learn top merge + mapInPandas apply), and
        # the dedup components pipeline (driver union-find under the edge
        # cap, star rounds above it).
        "events_heavy_hitters_by_type",
        "documents_bpe_tokens",
        "dedup_components",
        "text_bm25",
        "documents_hybrid_search",
        # r6 session-2 additions: SemDeDup (cell-bucketed pairwise prune),
        # the all-points knn graph (banded LSH self-join + rerank), and the
        # bigram-LM familiarity score (explode + model join + doc rollup).
        # embeddings_ann_stream is registry-only (stream startup dominates
        # at this SF); documents_split_assign is a map-only CASE, not a
        # meaningful perf probe.
        "embeddings_semdedup",
        "embeddings_knn_graph",
        "documents_lm_score",
        # r6 session-3 additions: IVF-PQ composite (equi-join probe over the
        # compressed code index), two-iteration Lloyd training, Gopher rules
        # (map-only), corpus n-gram novelty (min-window by gram), and the
        # curriculum interleave (two windows). embeddings_pq_codes /
        # embeddings_pq_topk / ann_recall_pq are registry-only: the composite
        # exercises their plans plus the cell join.
        "embeddings_pq_ivf_topk",
        "embeddings_kmeans_train",
        "documents_gopher_rules",
        "documents_ngram_novelty",
        "documents_curriculum_order",
        # r6 session-4 additions: classifier train+score chain (2 GD
        # iterations + scoring pass), MMR rerank (recall + greedy pandas),
        # banding-recall eval (truth join + full LSH pipeline), as-of book
        # sampling (keyed fold + asof fill), exact covariance (product
        # explode + model-sized groupBy), and MAD outliers (two grouped
        # exact medians). classifier_step/stream, leakage_split, lm_heldout,
        # char_entropy, quality_correlation are registry-only: subsets of
        # these plans or map-shaped passes.
        "documents_classifier_score",
        "ann_mmr_rerank",
        "dedup_recall_banding",
        "ob_book_asof",
        "embeddings_covariance",
        "events_anomaly_mad",
        # PQ index-quality pair: residual (relational shifted-codebook
        # joins) and trained (4 x 2-iteration Lloyd chains + ADC) — the
        # recall evals are registry-only, these carry their plans.
        "embeddings_pq_ivf_residual_topk",
        "embeddings_pq_trained_topk",
        # r6 session-5 additions: count-min rollup (bounded cell-grid build
        # + broadcast probe), Bloom runtime-filter audit (5 broadcast
        # bit-joins over lineitem), capped inverted index (posting-list
        # skew bound). documents_oov_rate is registry-only (map + one agg).
        "events_countmin_rollup",
        "orders_bloom_semijoin",
        "text_postings",
        # r6 session-6 additions: item co-occurrence (capped per-user
        # self-join + exact popularity normalization), incremental agg
        # maintenance (rollup-sized combine vs full-recompute oracle),
        # mergeable HLL rollup (sketch-bytes union), PMI keywords and the
        # Zipf profile (vocab-sized windows). events_top_similar_items is
        # registry-only: the cooc plan plus one bounded window.
        "events_item_cooccurrence",
        "orders_incremental_agg",
        "events_reservoir_sample",
        "events_hll_rollup",
        "documents_pmi_keywords",
        "documents_zipf_profile",
        # r6 session-7 additions: sliding-window distinct (bounded ×W explode
        # + one bucket shuffle), exponential time-decay (exact decimal chain,
        # two key aggs + co-partitioned join), negative sampling (broadcast
        # pool + left_anti), hard-negative mining (brute scan + pairs-sized
        # anti join), and the k-anonymity audit (event-sized distinct).
        # ann_eval_mrr / ann_recall_dims / events_sliding_stream are
        # registry-only: top-k-sized joins / stream startup dominates.
        "events_sliding_active_users",
        "events_time_decay",
        "events_negative_samples",
        "embeddings_hard_negatives",
        "events_k_anonymity",
        # r6 session-8 additions: gaps-and-islands runs (one key sort, two
        # windows), bucket debounce (one grouped min), out-of-order audit
        # (key sort + running max), and the cross-split contamination
        # matrix (two distinct gram builds + shuffled gram join).
        # documents_quality_percentile is registry-only (one per-lang window).
        "events_user_type_history",
        "events_debounced",
        "events_late_arrivals",
        "documents_split_contamination",
        # r6 session-9 additions: the drift monitors (TV/KS integer chains;
        # centroid drift's ×dim explode + model-sized groupBy).
        "events_value_drift",
        "embeddings_centroid_drift",
        # r6 session-12 additions: two-stage binary-quantized retrieval
        # (sign-packed signature scan + Hamming shortlist + exact rerank) and
        # incremental JOIN-view maintenance (three delta joins + rollup-sized
        # combine vs a full-recompute oracle).
        "ann_hamming_rerank",
        "orders_incremental_join",
        "events_quantile_histogram",
        "events_quantiles_exact_twopass",
        "events_selfjoin_size",
        "documents_classifier_reliability",
        "events_quantiles_exact_by_type",
        "orders_retraction_agg",
        "documents_token_weighted_length",
        # r7 additions: bucketed-interval overlap join, Theil-Sen robust
        # trend (reservoir-capped pairs), lag-k autocorrelation, co-located
        # bucketed-table join (write + exchange-free SMJ), and the
        # distributed BPE training loop (4 merges, per-iteration jobs).
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
        # r8 registrations. dedup_ngram_jaccard_arrays is registry-only:
        # it names the retired second Jaccard plan and runs the same
        # builder as the benched dedup_ngram_jaccard
        "ob_updates_top10",
        "documents_unigram_em_vocab",
        "documents_unigram_em_tokens",
        # r8 second batch: deep-book truncation at the reference's 20-level
        # monomorphization ceiling; the PassJoin segment strategy for fuzzy
        # dedup (content-keyed candidates, same oracle as the buckets path)
        "ob_updates_top20_deep",
        "documents_fuzzy_pairs_segments",
        # r9 registrations: the deep add/delete and modify folds.
        # ob_stream_deep_top20_rocksdb is registry-only: stream startup +
        # the memory-sink oracle rig dominate its wall at this SF (the
        # embeddings_ann_stream rule); its batch twin ob_updates_top20_deep
        # carries the wide-emit perf signal.
        "ob_mutations_top10_deep",
        "ob_modify_top20_deep",
        # the PROVEN scale configuration of the segments strategy (16-char
        # keys); its tau=10 twin stays benched above as the wide-net shape.
        "documents_fuzzy_pairs_segments_tau3",
        # bounded-memory chunked fold carrying the widest (40-price) book
        # state across Arrow batches — the memory-bound production path
        # at depth; its unchunked twin above isolates the chunking cost
        "ob_chunked_mutations_top10_deep",
        # r10 headline rotation (VERDICT r9 task 4): 131 registered queries
        # had correctness but no sf0.1 perf row. Additions by family:
        # the ob_relational_* names run the same fold builders as their
        # ob_* twins; they stay benched so the 150-row headline keeps its
        # names
        "ob_relational_updates_top20_deep",
        # profiling / constraints / diff families
        "documents_profile",
        "ob_depth_profile",
        "orders_quality_report",
        "ob_consistency_n1_n2",
        # streaming maintenance rows (foreachBatch rollup/merge/join-view)
        "orders_rollup_stream",
        "orders_merge_stream",
        "orders_join_view_stream",
        # r10 registrations: production parquet-sink book stream and the
        # absolute-threshold heavy hitters (the scale-aware sweep row)
        "ob_stream_parquet_sink_top3",
        "events_heavy_hitters_abs",
        # TPC-H rows previously registry-only: the pure pushdown probe (q6),
        # dual-role nation joins (q7), outer-join histogram (q13), agg-HAVING
        # semi-join (q18), correlated min (q2), returned-items top-k (q10)
        "q6_forecast_revenue",
        "q7_volume_shipping",
        "q13_customer_distribution",
        "q18_large_orders",
        "q2_min_cost_supplier",
        "q10_returned_items",
        # text rows with wide sf1 bands or no perf row: winnowing (6.55x at
        # 10x — the widest text band, now tracked round-over-round), TF-IDF,
        # PII redaction
        "text_winnow_fingerprints",
        "text_tfidf",
        "text_redact_pii",
        # sampling: DSIR importance weights (5.29x sf1 band), stratified
        "documents_dsir_weights",
        "documents_stratified_sample",
        # graph + asof + multimodal coverage
        "supplier_pagerank",
        "events_asof_purchase",
        "multimodal_resize",
        # r10 continuation: the production streaming paths proven at scale
        # this round (append-mode sessionizer: 2.46x at sf10 under the
        # default heap with RocksDB; measured at sf100) and the registered
        # knn-graph pair-budget remedy configuration
        "events_sessionize_stream_append",
        "embeddings_knn_graph_wide",
    ]
    qs = E.queries()

    # List-drift guard (r9 tools review): a typo'd headline name would only
    # surface as a generic KeyError in the errors dict three runs deep. Name
    # it upfront — but do NOT abort: the driver's whole perf evidence for
    # the round rides on this process (the r3 lesson).
    unknown_headline = [n for n in headline if n not in qs]
    if unknown_headline:
        print(f"WARNING headline names not in registry: {unknown_headline}",
              file=sys.stderr)
        headline = [n for n in headline if n in qs]

    # Full-registry mode (SPARK_GRAFT_BENCH_ALL=1): measure EVERY registered
    # query, not just the curated headline — used locally to produce the
    # full-coverage perf artifact (BENCH_LOCAL_allreg_*.json) so no registry
    # entry is correctness-only. Two timed runs instead of three bounds the
    # wall cost; best-of-2 is noisier than best-of-3, so round-over-round
    # comparisons should stay on the curated headline (same run depth).
    bench_all = os.environ.get("SPARK_GRAFT_BENCH_ALL", "") == "1"
    runs_per_query = 2 if bench_all else 3
    if bench_all:
        headline = sorted(qs)

    def checksum(df):
        """Force full computation of every output column — a bare count() lets
        Catalyst prune aggregate value expressions, under-measuring real work."""
        from pyspark.sql import functions as F

        return df.select(
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("cs"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]["n"]

    # Warmups exclude one-time spin-up from per-query numbers: JVM/codegen
    # (relational query) AND the Python UDF worker pool + cloudpickled module
    # broadcast (pandas-UDF query) — the latter costs ~2s on first use.
    for warm in ("q1_pricing_summary", "ob_updates_top1"):
        try:
            checksum(qs[warm](spark, sf_dir))
        except Exception:  # noqa: BLE001 — warmup is best-effort
            pass

    # Three timed runs per query: report BEST (steady-state cost — single-shot
    # timings on a shared box jitter 2-4x from GC / page cache / CPU
    # contention) AND MEDIAN (load-robust central tendency), plus the 1-min
    # loadavg before/after, so load-sensitive entries are attributable. Every
    # run executes the complete plan — no caching between runs.
    def cpu_times():
        """Aggregate /proc/stat jiffies — used to report hypervisor steal%
        over the timed region. On this sandbox's shared KVM host, steal is
        the dominant noise source (measured 6%+ while idle, r10 final
        session): per-query wall times vary 2-6x run to run with zero code
        change, so the full-detail artifact carries the steal fraction to
        make load-sensitive readings attributable (guide §1: measure the
        environment, not just the code)."""
        try:
            with open("/proc/stat") as fh:
                vals = [int(x) for x in fh.readline().split()[1:9]]
            return vals  # user nice system idle iowait irq softirq steal
        except Exception:  # noqa: BLE001 — non-Linux or restricted /proc
            return None

    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in headline:
        # Per-query fault isolation: one broken query must never zero out the
        # whole round's perf evidence (r3 lesson — a single AnalysisException
        # aborted the run and BENCH_r03 had no numbers).
        try:
            runs = []
            for _ in range(runs_per_query):
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                n = checksum(df)
                runs.append(time.time() - t0)
                assert n >= 0
            timings[name] = round(min(runs), 3)
            medians[name] = round(sorted(runs)[len(runs) // 2], 3)
        except Exception as exc:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
    load_end = os.getloadavg()[0]
    cpu_end = cpu_times()
    steal_pct = user_pct = None
    # len guard (r10 ADVICE): a /proc/stat cpu line with <8 fields (old
    # kernels, restricted containers) must not IndexError after every query
    # already ran — that would lose the whole run's numbers.
    if cpu_start and cpu_end and len(cpu_start) >= 8 and len(cpu_end) >= 8:
        delta = [b - a for a, b in zip(cpu_start, cpu_end)]
        tot_jiffies = sum(delta)
        if tot_jiffies > 0:
            steal_pct = round(100.0 * delta[7] / tot_jiffies, 2)
            user_pct = round(100.0 * delta[0] / tot_jiffies, 2)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "errors": errors,
        "total_median": round(sum(medians.values()), 3),
        "loadavg_1min_start": round(load_start, 2),
        "loadavg_1min_end": round(load_end, 2),
        # hypervisor steal over the whole timed region (None off-Linux);
        # high steal marks a run whose absolute numbers are not comparable
        "cpu_steal_pct": steal_pct,
        "cpu_user_pct": user_pct,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # coverage honesty: how much of the registry this headline measures
        # (registry-only entries are documented case-by-case in the list
        # comments above — this is the aggregate drift signal)
        "headline_count": len(headline),
        "registry_count": len(qs),
        "unknown_headline": unknown_headline,
        "mode": "full_registry" if bench_all else "headline",
        "runs_per_query": runs_per_query,
    }
    # The driver keeps only the last 2000 chars of stdout and parses them as
    # JSON — the full per-query detail (~6 KB at 105 queries) decapitated
    # that line in r5/r6 ("parsed": null). So: full detail goes to a file,
    # and stdout carries ONE compact line under the driver's tail budget,
    # with the queries dict trimmed slowest-first (the perf signal) until it
    # fits. `value`/`total_median` always cover ALL timed queries.
    full_out = os.environ.get("BENCH_FULL_OUT", "bench_full_last.json")
    with open(full_out, "w") as fh:
        json.dump(full, fh)
        fh.write("\n")
    slow_first = sorted(timings, key=timings.get, reverse=True)
    kept = dict.fromkeys(slow_first, None)
    # The errors dict is unbounded (a bad session can fail most of the 115
    # queries with 300-char messages) — cap it in the compact line or it
    # alone would blow the tail budget after every query was trimmed,
    # reproducing the decapitation this path exists to prevent. Full
    # messages live in $BENCH_FULL_OUT.
    compact_errors = {n: errors[n][:80] for n in sorted(errors)[:5]}
    while True:
        compact = {
            "metric": full["metric"],
            "value": total,
            "unit": "sec",
            "queries": {n: timings[n] for n in kept},
            "queries_omitted": len(timings) - len(kept),
            "errors": compact_errors,
            "errors_count": len(errors),
            "total_median": full["total_median"],
            "loadavg_1min_start": full["loadavg_1min_start"],
            "loadavg_1min_end": full["loadavg_1min_end"],
            # steal in the DRIVER-VISIBLE line (r10 verdict item 1): every
            # artifact self-attributes its environment, ~25 chars
            "cpu_steal_pct": steal_pct,
            "sf": full["sf"],
            "full_in": full_out,
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= 1900:
            break
        if kept:
            kept.popitem()  # drop the fastest remaining query
        elif compact_errors:
            compact_errors.popitem()  # then shed error samples
        else:
            break
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
