"""Scale spot-check: run the heaviest query families at sf0.1 AND at the
derived sf1 (tools/make_scale_data.py) and verify the SCALE.md claims hold an
order of magnitude above the benchmark point — shuffle-bound families should
scale ~linearly, so anything above --max-ratio (default 10x for 10x data) is
flagged as a scale defect.

Writes one JSON file (default BENCH_LOCAL_sf1.json) with per-query times at
both SFs, the ratio, row counts, and any errors. Usage:
  python tools/scale_check.py [--sf1 .scale/sf1] [--json BENCH_LOCAL_sf1.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The five heaviest families from the r6 plan audit, plus the LSH dedup leg
# (same shuffle family as ngram-jaccard but banded), plus (r8) the streaming
# and text-heavy families the r7 verdict asked to cover.
QUERIES = [
    "dedup_ngram_jaccard",          # prefix-filter + verify joins
    "dedup_minhash_lsh",            # banded LSH buckets
    "embeddings_pq_ivf_topk",       # PQ/IVF composite
    "ann_cosine_topk_ivf",          # plain IVF (r6 regression, now fixed)
    "ob_nbbo_keyed",                # keyed fold + NBBO chunk fold
    "ob_mutations_top2",            # production fold path
    "documents_classifier_reliability",  # GD training + calibration
    "events_sessionize_stream",     # stateful streaming session windows
    # r10 continuation: the PRODUCTION-shaped sessionizer (watermark + append
    # mode + durable parquet sink). The complete-mode memory-sink rig above is
    # the oracle harness and OOMs an 8 GB local heap at sf10 (it materializes
    # every session in driver memory each trigger); this row is the shape that
    # scales — measure it with --state-store rocksdb, where the 9.5M-session
    # state lives off-heap and the run completes under the DEFAULT heap.
    "events_sessionize_stream_append",
    "events_heavy_hitters_stream",  # streaming frequency-sketch maintenance
    "text_winnow_fingerprints",     # per-doc rolling-hash winnowing windows
    "dedup_components",             # iterative union-find over LSH edges
    # r8 second sweep: the remaining top-cost bench families
    "documents_hybrid_search",      # BM25 + dense fusion
    "embeddings_pq_trained_topk",   # k-means-trained PQ codebooks
    "embeddings_knn_graph",         # banded-LSH kNN graph
    # r10 continuation: the registered pair-budget remedy (48 planes /
    # 12-bit bands) — the configuration that completes where the 8-bit
    # default's guard fires; its sweep row proves the remedy's own scaling
    "embeddings_knn_graph_wide",
    "documents_hash_embed_knn",     # hashed doc features -> kNN
    "documents_fuzzy_pairs",        # edit-distance blocking (guarded r8)
    "documents_fuzzy_pairs_segments",  # PassJoin segments (guarded r8)
    "embeddings_kmeans_train",      # distributed Lloyd iterations
    # r9 third sweep: streaming joins, multimodal, TPC-H plans, sketches,
    # grid explodes, and the new deep-book folds
    "ob_mutations_top10_deep",      # add/delete fold, 40-price ladder
    "ob_modify_top20_deep",         # modify fold at the 20-level ceiling
    "events_attribution_stream",    # stream-stream interval join
    "events_enriched_stream",       # stream-static broadcast join
    "events_drift_stream",          # windowed distribution drift
    "multimodal_features",          # Arrow-batched mapInPandas decode
    "multimodal_frame_sample",      # explode-heavy frame sampling
    "q1_pricing_summary",           # TPC-H scan + wide agg (lineitem 10x)
    "q5_nation_revenue",            # TPC-H join tree (facts 10x, dims 1x)
    "events_countmin_rollup",       # mergeable sketch rollup
    "events_interpolate_daily",     # per-user daily grid completion
    "documents_fuzzy_pairs_segments_tau3",  # 16-char segment keys (proven cfg)
    "ob_chunked_mutations_top10_deep",  # bounded-memory fold x widest carry
    # r9 fifth sweep: multimodal resize, compaction, recsys co-occurrence,
    # exact decimal time-decay, drift monitors, BPE tokenize, postings,
    # Bloom semijoin over 10x lineitem, interval-overlap sessions
    "multimodal_resize",
    "sink_compaction",
    "events_item_cooccurrence",
    "events_time_decay",
    "embeddings_centroid_drift",
    "events_value_drift",
    "documents_bpe_tokens",
    "text_postings",
    "orders_bloom_semijoin",
    "events_session_overlap",
    # r9 sixth sweep: remaining distinct mechanics — SimHash wide votes,
    # Arrow-GEMM batches, DSIR importance weights, grouping sets, IO
    # roundtrips (ORC/CSV write+read at 10x), schema-evolution merge,
    # z-order interleave
    "dedup_simhash",
    "ann_cosine_topk_blas",
    "documents_dsir_weights",
    "events_grouping_sets",
    "orders_orc_roundtrip",
    "events_csv_roundtrip",
    "sink_schema_evolution",
    "events_zorder_key",
    # r9 fourth sweep: iterative graph over 10x facts, incremental
    # maintenance, bucketed-table write+SMJ, HLL sketch union, BM25,
    # batch sessionization, asof book sampling, streaming profiles,
    # keyed Misra-Gries, the full curation composite
    "supplier_pagerank",
    "orders_incremental_agg",
    "sink_bucketed_join",
    "events_hll_rollup",
    "text_bm25",
    "events_sessionize",
    "ob_book_asof",
    "events_user_profile_stream",
    # r10: absolute-threshold sibling replaces the diluting relative-support
    # row as the family's scale evidence — by_type emits 0 rows at sf1
    # (support dilution, SCALE.md §r9-7), _abs keeps a nonzero output whose
    # wall time still probes the same groupBy shape.
    "events_heavy_hitters_abs",
    "documents_curation_pipeline",
]

# Measured flags that are INTENDED behavior, not scale defects: the flag is
# still recorded (under "dispositioned") but doesn't fail the tool. Keep the
# text honest — it must describe a guard or a documented design bound.
DISPOSITIONS = {
    "embeddings_knn_graph": (
        "guarded since r10 continuation: the all-points graph's 8-bit band "
        "keys are a FIXED 256-key space, so candidate pairs grow "
        "quadratically once the corpus outgrows it — at 200k vectors the "
        "exact in-plan estimate is 745M pairs (OOMed a 24 GB heap before "
        "the guard). knn_graph now carries pair_budget=50M and FAILS FAST "
        "naming the remedy, which is MEASURED: n_planes=48/band_size=12 "
        "(4096 keys) + pair_budget=100M completes the full 200k-vector "
        "graph in 95 s (1M edges)."
    ),
    "dedup_ngram_jaccard": (
        "guarded since r8: the exact path carries candidate_budget=10M — at "
        "sf1 the saturated synthetic shingle space puts the exact candidate "
        "cardinality (sum df^2 over prefix shingles) past the budget, so the "
        "query now FAILS FAST naming dedup_minhash_lsh (the unbounded-corpus "
        "path, 2.08x at 10x data) instead of OOMing an 8 GiB heap mid-join; "
        "the r7 22.6x flag row is thereby retired. Callers with bounded "
        "blocks raise candidate_budget explicitly."
    ),
    "documents_fuzzy_pairs": (
        "guarded since r8 (this sweep's own finding, measured 55.8x at 10x "
        "data): the (block, length-bucket) key space is fixed, so candidate "
        "pairs grow quadratically once blocks saturate (394k pairs at sf0.1 "
        "-> 39.6M at sf1). fuzzy_duplicate_pairs now carries "
        "candidate_budget=10M enforced as an exact sum-product fail-fast "
        "on BOTH candidate joins (salted_pair_join + the new "
        "salted_bipartite_join pair_budget), naming dedup_minhash_lsh as "
        "the unbounded-corpus path. Callers with selective block_cols "
        "raise candidate_budget explicitly."
    ),
    "documents_fuzzy_pairs_segments_tau3": (
        "second-decade closed-vocab saturation (r10 continuation): at 500k "
        "docs the derived corpus's ~31-word vocabulary makes most documents "
        "share identical 16-char runs, so even tau=3 segment CONTENT keys "
        "collide en masse and the candidate_budget fail-fast fires naming "
        "the LSH path. This is the same corpus artifact as the "
        "dedup_minhash_lsh disposition, with the same counter-evidence "
        "methodology: on an open-vocabulary Heaps-law corpus at a 10x "
        "decade the IDENTICAL configuration scales 1.51x with exact "
        "planted-pair recall (r9, tools/openvocab_check.py, "
        "BENCH_LOCAL_openvocab.json). First decade on THIS corpus stays "
        "green (see the sf0.1 side of this row and BENCH_LOCAL_sf1.json)."
    ),
    "documents_fuzzy_pairs_segments": (
        "guarded since r8: the PassJoin segment strategy replaces the fixed "
        "(lang, length-bucket) grid with segment-CONTENT join keys. The "
        "content-keyed advantage is proven (r9, tools/openvocab_check.py, "
        "BENCH_LOCAL_openvocab.json): on a deterministic open-vocabulary "
        "Heaps-law corpus at max_dist=3 (16-char segments) it scales 1.51x "
        "on 10x data while buckets at the same tau fails its budget at "
        "474M candidates. But at this query's default max_dist=10 the "
        "~6-char segments are dominated by the corpus's fixed common core "
        "(57M candidates at 10x here; 272M on the closed-vocab copy "
        "corpus), so the candidate_budget=10M fail-fast stays binding and "
        "the query dies in seconds naming the LSH path instead of paying "
        "the quadratic stage."
    ),
}

# Ratio-based dispositions (r10): over-ratio rows whose superlinearity is a
# DOCUMENTED design bound, not a defect — each carries an explicit cap so a
# future regression past the documented bound still flags (the same
# stale-disposition concern as the guarded_err rule below, applied to
# ratios). Second-decade context (sf1 -> sf10, BENCH_LOCAL_sf10.json): the
# two UNKEYED deep folds are single-book reference-parity shapes — the whole
# stream is ONE applyInPandas group, so the fold is one task whose pandas
# working set (10M-event input + the 81-column n=20 snapshot output in one
# Arrow exchange) grows with N; past ~10M events memory management, not
# compute, drives the wall superlinear (measured 11.3x/12.9x at the second
# 10x). The bounded-memory production paths at depth are the CHUNKED fold
# (ob_chunked_mutations_top10_deep: 6.83x at the same decade, state carried
# across seq chunks) and the KEYED folds (parallel, per-book-sized batches).
# r10 continuation: the two capped dispositions this dict carried
# (ob_updates_top20_deep / ob_modify_top20_deep at 11.3x/12.9x, single-group
# applyInPandas working-set bound) were RETIRED by an engineering fix, not a
# re-rationalization: unkeyed folds now default to the bounded-memory
# chained-state plan (operators/order_book.py _apply_fold), so the default
# 10x-per-10x-data cap binds for them again and a regression past it flags.
RATIO_DISPOSITIONS: dict[str, tuple[float, str]] = {
    # Second-decade (sf1 -> sf10, 50k -> 500k docs) superlinearity is a
    # CORPUS artifact, not an operator defect: the derived corpora keep the
    # driver data's closed ~31-word vocabulary, so the 3-gram shingle
    # universe is fixed and band-bucket collision rates grow with corpus
    # size (unrelated docs share band minima once corpus >> shingle
    # diversity). Discriminating evidence: the SAME operator on an
    # open-vocabulary Heaps-law corpus at the same decade (40k -> 400k
    # docs) runs 5.62x/5.72x at 10x data with output pairs scaling exactly
    # 10x — tools/openvocab_minhash.py, BENCH_LOCAL_openvocab_minhash.json.
    # Same mechanism, same tooling as the r9 fuzzy-segments disposition.
    "dedup_minhash_lsh": (
        20.0,
        "closed-vocab band-bucket saturation in the second decade; "
        "open-vocab twin measures 5.62x at 10x data "
        "(BENCH_LOCAL_openvocab_minhash.json)",
    ),
    "dedup_components": (
        20.0,
        "downstream of dedup_minhash_lsh's closed-vocab pair blowup; "
        "open-vocab twin (pairs + components) measures 5.72x at 10x data "
        "(BENCH_LOCAL_openvocab_minhash.json)",
    ),
    # OUTPUT-bound, not plan-bound: the query's contract is every
    # overlapping session pair, a pair space quadratic in concurrent
    # sessions — at sf10 the result itself grows 100x (15.3M -> 1.54B
    # rows) while wall grows 15.4x, i.e. per-output-row cost FELL 6.5x.
    "events_session_overlap": (
        20.0,
        "output-bound: result rows grew 100.1x (15.3M -> 1.54B pairs) "
        "against 15.4x wall — per-row cost fell 6.5x; quadratic pair "
        "space is the query's own contract",
    ),
    # Marginal by construction: ANY fixed band-key space makes within-bucket
    # candidate pairs grow ~quadratically once the corpus saturates it. The
    # wide config's whole point is moving the saturation boundary 16x (4096
    # keys vs the default's 256) — it completes this decade at near-linear
    # wall (10.2x, output edges exactly 10x at k*N) where the DEFAULT cannot
    # run at all (745M-pair estimate, budget fail-fast). pair_budget still
    # guards the next decade, and the lever is explicit: raise
    # n_planes/band_size again. Cap 12x: drift past that is a real
    # regression, not saturation arithmetic.
    "embeddings_knn_graph_wide": (
        12.0,
        "fixed 4096-key band space begins saturating at 200k vectors — "
        "10.2x wall with output edges exactly 10x (k*N); the default "
        "config cannot run this decade at all (745M-pair budget "
        "fail-fast); next-decade growth is guarded by pair_budget and "
        "the registered remedy lever (raise n_planes/band_size)",
    ),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--sf1", default=os.path.join(REPO, ".scale", "sf1"))
    ap.add_argument("--json", default=os.path.join(REPO, "BENCH_LOCAL_sf1.json"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--max-ratio", type=float, default=10.0)
    ap.add_argument("--only", default="", help="comma-separated query subset")
    ap.add_argument("--merge", action="store_true",
                    help="merge into an existing --json instead of replacing")
    ap.add_argument("--state-store", default=None,
                    help="pass through to get_spark (e.g. 'rocksdb') — the "
                         "production provider for large streaming state rows")
    args = ap.parse_args()

    import __spark_entry__ as E
    from polars_order_book_spark.session import get_spark

    spark = get_spark("scale-check", state_store=args.state_store)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    # warm JVM/codegen + the Python UDF worker pool
    qs["q1_pricing_summary"](spark, args.sf01).count()
    qs["ob_updates_top1"](spark, args.sf01).count()

    report = {"sf01_dir": args.sf01, "sf1_dir": args.sf1,
              "loadavg_1min_start": round(os.getloadavg()[0], 2),
              "queries": {}, "flags": []}
    if args.merge and os.path.exists(args.json):
        with open(args.json) as fh:
            prior = json.load(fh)
        # carry prior per-query ENTRIES only; flags are recomputed from the
        # merged state below — carrying them verbatim would resurrect a
        # fixed regression's stale flag (and duplicate still-failing ones)
        report["queries"].update(prior.get("queries", {}))
    targets = [q for q in args.only.split(",") if q] or QUERIES
    for name in targets:
        entry = {}
        for label, sf_dir in (("sf0.1", args.sf01), ("sf1", args.sf1)):
            try:
                runs, n = [], None
                for _ in range(args.runs):
                    t0 = time.time()
                    n = qs[name](spark, sf_dir).count()
                    runs.append(time.time() - t0)
                entry[label] = {"best_sec": round(min(runs), 3),
                                "runs": [round(r, 3) for r in runs], "rows": n}
            except Exception as exc:  # noqa: BLE001 — record and continue
                entry[label] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        ok = "error" not in entry.get("sf0.1", {}) and "error" not in entry.get("sf1", {})
        if ok and entry["sf0.1"]["best_sec"] > 0:
            entry["ratio"] = round(entry["sf1"]["best_sec"] / entry["sf0.1"]["best_sec"], 2)
        report["queries"][name] = entry
        print(name, json.dumps(entry))
    # flags from the MERGED state, exactly once per query; dispositioned
    # entries (guards / documented bounds) are recorded but don't fail
    report["dispositioned"] = {}
    for name, entry in report["queries"].items():
        over = entry.get("ratio", 0) > args.max_ratio
        err = entry.get("sf1", {}).get("error", "")
        # the recorded error is truncated at 300 chars — match the budget
        # guard by either the parameter name or a budget_msg lead-in (the
        # Py4J wrapper prefix can push 'pair_budget' past the cut)
        guarded_err = (
            "pair_budget" in err
            or "exact prefix-filter join" in err
            or "exact edit-distance blocking saturated" in err
            or "banded key space saturated" in err
        )
        # disposition ONLY when the guard actually fired: if the guard ever
        # stops firing and the query runs over-ratio again, that's a NEW
        # scale regression and must flag — stale disposition text must not
        # swallow it (review finding)
        if name in DISPOSITIONS and guarded_err:
            report["dispositioned"][name] = DISPOSITIONS[name]
        elif err or entry.get("sf0.1", {}).get("error"):
            # an UN-dispositioned error at either scale is a defect, not a
            # skip: previously it fell through both branches and the gate
            # exited 0 on a query that cannot run at 10x data (r8 review)
            which = "sf1" if err else "sf0.1"
            report["flags"].append(
                f"{name}: error at {which}: "
                f"{(err or entry['sf0.1']['error'])[:120]}")
        elif over:
            cap_text = RATIO_DISPOSITIONS.get(name)
            if cap_text is not None and entry["ratio"] <= cap_text[0]:
                report["dispositioned"][name] = (
                    f"ratio {entry['ratio']}x (cap {cap_text[0]}x): "
                    f"{cap_text[1]}"
                )
            else:
                report["flags"].append(
                    f"{name}: {entry['ratio']}x > {args.max_ratio}x at 10x data")
    report["loadavg_1min_end"] = round(os.getloadavg()[0], 2)
    with open(args.json, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {args.json}; flags: {report['flags'] or 'none'}")
    spark.stop()
    if report["flags"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
