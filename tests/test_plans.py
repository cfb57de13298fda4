"""Physical-plan quality gates: the properties the 100 TB design relies on.

Each assertion inspects the executed/physical plan string — the same evidence
`.explain("formatted")` prints. These pin:
* dimension joins broadcast (no shuffle join against region/nation/customer)
* filters and column pruning pushed into the parquet scan
* map-side partial aggregation before the shuffle
* no CartesianProduct anywhere (broadcast nested loop is allowed only for
  the deliberate bounded cross joins in ANN / 1-row normalizers)
* the batch fold stays one exchange + one MapInPandas
"""

import os

import pytest

from pyspark.sql import functions as F

from polars_order_book_spark.plans import book_streams as bs
from polars_order_book_spark.plans import queries as hq
from polars_order_book_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@needs_testdata
def test_q3_broadcasts_customer_dim(spark):
    plan = plan_of(hq.q3_top_revenue_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@needs_testdata
def test_q5_broadcasts_all_dims_no_cartesian(spark):
    plan = plan_of(hq.q5_nation_revenue(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # nation+region (+dims side)
    assert "CartesianProduct" not in plan


@needs_testdata
def test_q1_filter_pushed_to_parquet_scan(spark):
    plan = plan_of(hq.q1_pricing_summary(spark, SF_DIR))
    # partial agg before the shuffle, final after
    assert "partial_sum" in plan or "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2


@needs_testdata
def test_part_projection_prunes_columns(spark):
    plan = plan_of(hq.part_categorize(spark, SF_DIR))
    # ReadSchema should carry only the 5 referenced columns, not the table
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    schema_line = read[0]
    assert "p_partkey" in schema_line and "p_size" in schema_line
    assert "p_comment" not in schema_line  # untouched column pruned


@needs_testdata
def test_filter_pushdown_reaches_scan(spark):
    df = load_table(spark, SF_DIR, "part").where(F.col("p_size") > 40).select("p_partkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,40)" in plan, plan


@needs_testdata
def test_streamed_fold_is_single_pass(spark):
    """The batch fold must stay the single-pass shape: ONE exchange on the
    book keys + in-partition sort + ONE MapInPandas — no chained cogrouped
    rounds (FlatMapCoGroupsInPandas), no per-round re-scan (multiple parquet
    scans), no bounds broadcast join."""
    from polars_order_book_spark import top_n_levels_from_price_mutations

    stream = bs.mutations_stream(load_table(spark, SF_DIR, "events"))
    plan = plan_of(top_n_levels_from_price_mutations(stream, n=2))
    assert plan.count("MapInPandas") == 1, plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert plan.count("Scan parquet") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") == 1, plan


@needs_testdata
def test_whole_stage_codegen_covers_text_ops(spark):
    from polars_order_book_spark.operators import text

    plan = plan_of(text.quality_features(load_table(spark, SF_DIR, "documents")))
    # "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python in the path


# --- negative invariants over the WHOLE registry -----------------------------
#
# Sites where a BroadcastNestedLoopJoin is deliberate and bounded:
#   * brute-force ANN's vectors x broadcast query set (build side = the
#     handful of query vectors)
# Everything else must stay equi-join shaped. A CartesianProduct is never OK.
#   * TF-IDF's broadcast of the 1-row corpus-size aggregate (a scalar
#     attached to every row — the standard shape for global normalizers)
_BNLJ_WHITELIST = {
    "ann_cosine_topk",
    "ann_cosine_topk_blas",
    "text_tfidf",
    # same 1-row corpus-total broadcast cross join as text_tfidf
    "text_docfreq_score",
    # 1-row feasible-total (T) broadcast cross join in the rates subtree;
    # the fact side is an equi-join on domain
    "documents_domain_mix",
    # 1-row scalar normalizers (max revenue / avg balance) broadcast-crossed
    # against small aggregates — never against a fact table
    "q15_top_supplier",
    "q22_dormant_customers",
    # 1-row value-threshold normalizer crossed against the per-part aggregate
    "q11_important_parts",
    # quality report: the FK row cross-joins the 1-row violation count with
    # the 1-row n_checked aggregate — both sides single-row by construction
    "orders_quality_report",
    # inherits ann_cosine_topk's whitelisted broadcast-query cross join on
    # its exact (denominator) side; the approx side stays bucketed
    "ann_recall_lsh",
    # same shape: exact (denominator) side is ann_cosine_topk's whitelisted
    # broadcast-query cross join; the IVF-PQ approx side is all equi-joins
    "ann_recall_pq",
    # 1-row distinct-user-total normalizer crossed against the pattern
    # aggregate (the orders_quality_report pattern)
    "events_pattern_3grams",
    # composes ann_cosine_topk's whitelisted broadcast-query cross join
    # over the hash-embedded vectors
    "documents_hash_embed_knn",
    # PQ ADC: the same bounded vectors x broadcast-queries shape as
    # ann_cosine_topk, but the scan side carries only (id, m codes)
    "embeddings_pq_topk",
    # composes ann_cosine_topk's whitelisted broadcast-query cross join as
    # its recall stage; the rerank itself is a broadcast hash join + one
    # applyInPandas over the bounded candidate lists
    "ann_mmr_rerank",
    # trained-codebook ADC: the same bounded vectors x broadcast-query-LUTs
    # shape as embeddings_pq_topk (codebooks are literals from the Lloyd
    # chain, not a join side)
    "embeddings_pq_trained_topk",
    # recall evals compose ann_cosine_topk's whitelisted broadcast-query
    # cross join on the exact (denominator) side; the approx sides are the
    # whitelisted ADC (trained) / pure equi-joins (residual)
    "ann_recall_pq_trained",
    "ann_recall_pq_residual",
    # same 1-row corpus-total broadcast cross join as text_tfidf: the exact
    # verify stage attaches the one-row count(*) aggregate (__N) to the
    # candidate counts (operators/frequency.py heavy_hitters)
    "events_heavy_hitters",
    # 1-row corpus-stats (N docs, total tokens) broadcast cross join — the
    # same global-normalizer pattern (operators/text.py bm25_scores)
    "text_bm25",
    # composes BOTH whitelisted shapes: text_bm25's 1-row stats cross join
    # (lexical leg) and ann_cosine_topk's broadcast-query cross join
    # (dense leg) — two bounded BNLJs
    "documents_hybrid_search",
    # TWO 1-row feature-total aggregates (raw R, target T) broadcast-crossed
    # against the <=n_buckets-row model relation — the text_tfidf
    # global-normalizer pattern twice (operators/text.py dsir_weights)
    "documents_dsir_weights",
    # same 1-row corpus-token-total broadcast cross join as text_tfidf
    # (operators/text.py pmi_keywords)
    "documents_pmi_keywords",
    # 1-row global exact-distinct aggregate broadcast-crossed against the
    # 1-row unioned-sketch estimate — both sides single-row by construction
    "events_hll_rollup",
    # the same bounded vectors x broadcast-query scan as ann_cosine_topk;
    # the positives exclusion is a pairs-sized left_anti equi-join
    # (operators/retrieval.py hard_negatives)
    "embeddings_hard_negatives",
    # composes ann_cosine_topk's whitelisted broadcast-query cross join on
    # the exact (truth) side; the LSH approx side stays bucketed
    "ann_eval_mrr",
    # BOTH sides are the whitelisted broadcast-query scan (sliced approx,
    # full-dim exact) — the dimension-ablation eval
    "ann_recall_dims",
    # users x broadcast candidate-pool expansion — the pool is a hard
    # 30-row LIMIT by construction (operators/sampling.py negative_samples,
    # the bounded fan-out that replaces the users x catalog trap)
    "events_negative_samples",
    # stage 1 is ann_cosine_topk's whitelisted broadcast-query scan but over
    # the 16-byte packed signatures (operators/similarity.py
    # cosine_topk_hamming_rerank); the stage-2 rerank is equi-joins only
    "ann_hamming_rerank",
    # 1-row (min, max) index-bounds aggregate broadcast-crossed against the
    # distinct-keys relation to build the shared day grid — the model-sized
    # grid completion in operators/timeseries.py series_cross_correlation;
    # the lag joins are equi-joins on the shifted index
    "events_ccf",
    # 1-row max-count aggregate broadcast-crossed against the vocab-sized
    # piece relation — the text_tfidf global-normalizer pattern
    # (operators/unigram.py unigram_vocab)
    "documents_unigram_vocab",
    # 1-row Σ df² candidate-budget aggregate broadcast-crossed onto the
    # prefix relation feeding the pair join — the assert_true fail-fast
    # added in r8 (functions/skew.py salted_pair_join pair_budget)
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_arrays",
    # same 1-row candidate-budget broadcast-cross, on the fuzzy dedup's
    # candidate joins (r8 scale check: 55.8x cliff -> enforced budget;
    # salted_pair_join + salted_bipartite_join pair_budget)
    "documents_fuzzy_pairs",
    "documents_fuzzy_pairs_segments",
    # identical plan shape at tau=3 (r9): only the segment length and the
    # levenshtein threshold change — the 1-row budget broadcast-cross stays
    "documents_fuzzy_pairs_segments_tau3",
    # documents_unigram_vocab's whitelisted 1-row max-count cross join plus
    # the EM M-step's own 1-row max-usage aggregate broadcast-crossed onto
    # the vocab-sized piece relation (operators/unigram.py _em_recost)
    "documents_unigram_em_vocab",
}

# Streaming executes on construction; exercised by driver + streaming tests.
_PLAN_SKIP = {
    "documents_classifier_stream",
    "ob_stream_keyed_mutations_top2",
    "events_sessionize_stream",
    "events_sessionize_stream_append",
    "dedup_stream_survivors",
}


@needs_testdata
def test_registry_no_cartesian_no_unwhitelisted_bnlj(spark):
    import __spark_entry__ as entry

    offenders = {}
    for name, fn in entry.queries().items():
        if name in _PLAN_SKIP:
            continue
        plan = plan_of(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_WHITELIST:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


@needs_testdata
def test_dimension_joins_never_shuffle(spark):
    """Queries joining dimension tables (region/nation/customer/supplier) must
    broadcast the dim side — a SortMergeJoin/ShuffledHashJoin against a dim is
    a plan regression (it shuffles the fact table on the dim key for nothing).
    """
    dim_queries = [
        "q3_top_revenue_orders",
        "q5_nation_revenue",
        "supplier_nation_summary",
        "customers_without_orders",
        "topk_orders_per_customer",
        # new pure fact-with-dims joins (q8/q20/q21 also shuffle fact-fact
        # sides, which IS the correct shape — not asserted here)
        "q9_product_profit",
        "q16_supplier_variety",
    ]
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in dim_queries:
        plan = plan_of(qs[name](spark, SF_DIR))
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin" not in plan, name


@needs_testdata
def test_q4_exists_plans_left_semi(spark):
    plan = plan_of(hq.q4_priority_count(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


@needs_testdata
def test_q14_q19_broadcast_part(spark):
    for fn in (hq.q14_promo_revenue, hq.q19_disjunctive_revenue):
        plan = plan_of(fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


@needs_testdata
def test_q18_broadcasts_having_agg(spark):
    # the groupBy-HAVING inner agg is tiny → must broadcast back to orders
    plan = plan_of(hq.q18_large_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


@needs_testdata
def test_weighted_sample_uses_take_ordered_not_global_sort(spark):
    """orderBy+limit must compile to per-partition TakeOrderedAndProject —
    a global Sort+Exchange would move the whole table for k rows."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["documents_weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


@needs_testdata
def test_knn_graph_plan_is_checkpoint_compact(spark):
    """knn_graph symmetrizes the LSH pair list with a union that reads
    `pairs` twice: the pair relation must be lineage-truncated so the
    LSH self-join + cosine rerank pipeline executes ONCE, not once per
    union branch. After truncation the final plan consumes the
    materialized RDD — zero parquet re-scans, zero re-derived joins."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["embeddings_knn_graph"](spark, SF_DIR))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert plan.count("Join") == 0, f"knn_graph re-derives the LSH join:\n{plan}"


@needs_testdata
def test_semdedup_plan_is_checkpoint_compact(spark):
    """semdedup's argmin cell projection (n_cells × dim folds per row)
    feeds both sides of the salted self-join, the rerank relation, and
    the final verdict join — it must be lineage-truncated so the final
    plan re-reads the materialized assignment instead of re-scanning
    parquet and re-folding the centroid distances per consumer."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["embeddings_semdedup"](spark, SF_DIR))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan


@needs_testdata
def test_triangle_count_plan_is_checkpoint_compact(spark):
    """The oriented relation is lineage-truncated: the physical plan must
    not re-derive the canonicalize+degree subtree per join instance (the
    unchecked plan had ~150 joins; the compact one has a handful)."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["part_triangle_counts"](spark, SF_DIR))
    joins = plan.count("Join")
    assert joins <= 20, f"triangle plan re-derives lineage: {joins} joins"
    assert "CartesianProduct" not in plan


@needs_testdata
def test_pq_encode_plan_is_map_only(spark):
    """PQ encoding must be a pure projection against literal codebooks:
    one parquet scan, zero Exchanges, no Python — the compressed index is
    built in the same pass that reads the vectors."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["embeddings_pq_codes"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan


@needs_testdata
def test_pq_topk_scan_side_carries_codes_not_vectors(spark):
    """The ADC join's streamed (scan) side must project only (id, m codes)
    — the 128x compression is the point; broadcasting happens on the bounded
    query-LUT side."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["embeddings_pq_topk"](spark, SF_DIR))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    # the scan side's ReadSchema must not include the embedding column once
    # codes are computed; the only embedding read feeding the BNLJ build side
    # is the bounded query relation
    assert plan.count("Scan parquet") == 2, plan


@needs_testdata
def test_sink_bucketed_join_is_exchange_free(spark):
    """The registered bucketed co-located join: SortMergeJoin over two
    Bucketed:true scans; the only exchanges in the whole plan belong to the
    downstream groupBy (initial + AQE final), never to the join inputs."""
    df = hq.sink_bucketed_join(spark, SF_DIR)
    df.collect()  # tables must exist; AQE finalizes the plan
    plan = plan_of(df)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") >= 2
    # AQE's toString prints Final AND Initial plan sections, so subtree
    # slicing is unreliable — assert directly that NO exchange partitions on
    # either join key anywhere (the only legal exchange is the downstream
    # groupBy's, on o_orderstatus)
    assert "hashpartitioning(o_orderkey" not in plan, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan
