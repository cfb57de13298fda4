"""Dedup operator tests: prefix-filtered Jaccard vs brute force, simhash shape.

The driver's DuckDB oracle already cross-checks these at sf0.01; these tests
pin the algorithmic contracts on controlled inputs — especially that prefix
filtering loses no pairs on a maximally-skewed block (every doc in ONE block,
the shape that made all-pairs-within-block quadratic).
"""

import itertools
import random

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from polars_order_book_spark.operators import dedup

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("lang", StringType()),
    StructField("text", StringType()),
])


def _shingle_set(text: str, k: int = 3) -> set:
    toks = text.lower().strip().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)} if len(toks) >= k else set()


def _brute_pairs(rows, threshold, k=3):
    out = {}
    sets = {r[0]: _shingle_set(r[2], k) for r in rows}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter:
            j = inter / (len(sa) + len(sb) - inter)
            if j >= threshold:
                out[(a, b)] = pytest.approx(j)
    return out


def _doc_rows(n_docs=40, seed=11):
    """One skewed block: all docs lang='en'. Even/odd doc pairs are near-dups
    (one-token edit); everything else dissimilar."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(120)]
    rows = []
    for i in range(n_docs // 2):
        base = [rng.choice(vocab) for _ in range(30)]
        edited = list(base)
        edited[rng.randrange(len(edited))] = rng.choice(vocab)
        rows.append((2 * i, "en", " ".join(base)))
        rows.append((2 * i + 1, "en", " ".join(edited)))
    return rows


@pytest.mark.parametrize("threshold", [0.4, 0.7])
def test_prefix_filter_jaccard_matches_bruteforce_skewed_block(spark, threshold):
    rows = _doc_rows()
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=threshold, block_col="lang"
        ).collect()
    }
    expected = _brute_pairs(rows, threshold)
    assert got == expected
    assert expected, "test must exercise at least one surviving pair"


def test_prefix_filter_hash_order_identical_results(spark):
    """The prefix order is the portable shingle hash, the only order the
    operator has: the retired ``order_by`` argument is rejected, and the
    hash-ordered pairs match brute force."""
    rows = _doc_rows()
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(df, threshold=0.5, block_col="lang").collect()}
    assert got == _brute_pairs(rows, 0.5) and got
    with pytest.raises(TypeError):
        dedup.ngram_jaccard_pairs(df, threshold=0.5, block_col="lang", order_by="hash")


def test_prefix_filter_jaccard_no_block(spark):
    rows = _doc_rows(n_docs=20)
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert got == _brute_pairs(rows, 0.5)


def test_simhash_signature_stable_and_bounded(spark):
    rows = [(1, "en", "the quick brown fox jumps"),
            (2, "en", "the quick brown fox jumps"),
            (3, "en", "a completely different sentence here")]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]                    # identical text -> identical signature
    assert sigs[1] != sigs[3]
    assert all(0 <= s < 2 ** 32 for s in sigs.values())


def test_prefix_ceil_epsilon_guards_exact_products(spark):
    """ceil(t·n) in doubles can round an exact integer product UP one
    (0.07·100 → 7.000000000000001 → 8), shortening the prefix below the
    theorem's bound. The operator nudges down by 1e-9 before ceil; pin the
    arithmetic both ways so a refactor can't silently reintroduce it."""
    assert 0.07 * 100 == 7.000000000000001  # the float artifact itself
    row = spark.range(1).select(
        F.ceil(F.lit(0.07) * F.lit(100)).alias("naive"),
        F.ceil(F.lit(0.07) * F.lit(100) - F.lit(1e-9)).alias("guarded"),
    ).first()
    assert row["naive"] == 8  # the artifact the guard exists for
    assert row["guarded"] == 7


def _components_of(rows):
    """Ground-truth union-find over edge tuples."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _pairs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_star_components_match_label_propagation_random(spark):
    rng = random.Random(7)
    rows = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    rows = [(a, b) for a, b in rows if a != b]
    pairs = _pairs_df(spark, rows)
    via_star = {
        (r["doc_id"], r["component"], r["is_survivor"])
        for r in dedup.neardup_components_star(pairs).collect()
    }
    via_default = {
        (r["doc_id"], r["component"], r["is_survivor"])
        for r in dedup.neardup_components(pairs).collect()
    }
    truth = {(n, c, n == c) for n, c in _components_of(rows).items()}
    assert via_star == truth
    assert via_default == truth


def test_star_components_long_chain(spark):
    """A 200-node path graph: diameter 199. Label propagation at default
    max_iter would need ~200 rounds; the star algorithm collapses it in
    O(log n) rounds."""
    rows = [(i, i + 1) for i in range(200)]
    out = dedup.neardup_components_star(_pairs_df(spark, rows), max_iter=12)
    got = {(r["doc_id"], r["component"]) for r in out.collect()}
    assert got == {(i, 0) for i in range(201)}
    survivors = [r["doc_id"] for r in out.collect() if r["is_survivor"]]
    assert survivors == [0]


def test_star_components_star_input_converges_immediately(spark):
    rows = [(0, i) for i in range(1, 6)]
    out = dedup.neardup_components_star(_pairs_df(spark, rows), max_iter=2)
    got = {(r["doc_id"], r["component"]) for r in out.collect()}
    assert got == {(i, 0) for i in range(6)}


def test_star_components_null_and_self_edges_ignored(spark):
    rows = [(1, 2), (3, 3), (None, 4), (5, None)]
    out = dedup.neardup_components_star(_pairs_df(spark, rows)).collect()
    got = {(r["doc_id"], r["component"]) for r in out}
    # self-edge keeps node 3 as its own component; null endpoints drop the row
    assert got == {(1, 1), (2, 1), (3, 3)}


# --- fuzzy (edit-distance) dedup ---------------------------------------------

def test_fuzzy_pairs_finds_typo_neardups_and_blocks_by_length(spark):
    from polars_order_book_spark.operators.dedup import fuzzy_duplicate_pairs

    base = "the quick brown fox jumps over the lazy dog " * 2
    docs = spark.createDataFrame(
        [
            (1, base, "en"),
            (2, base.replace("quick", "qwick"), "en"),     # 1 edit -> pair
            (3, "a completely different sentence altogether xyz", "en"),
            (4, base, "de"),                               # other block
            (5, base + "x" * 500, "en"),                   # far length bucket
        ],
        "doc_id long, text string, lang string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["dist"]
             for r in fuzzy_duplicate_pairs(docs, block_cols=["lang"]).collect()}
    # "quick" appears twice inside the 64-char prefix (the base repeats), so
    # the replace-all typo costs 2 edits.
    assert pairs[(1, 2)] == 2
    assert (1, 4) not in pairs          # lang block separates identical text
    assert all(5 not in p for p in pairs)  # length blocking prunes
    assert (1, 3) not in pairs          # verified out by distance


def test_fuzzy_pairs_adjacent_length_buckets_still_compared(spark):
    from polars_order_book_spark.operators.dedup import fuzzy_duplicate_pairs

    # 63 vs 65 chars: different 64-buckets but true near-dups (2 edits).
    a = "z" * 63
    b = "z" * 65
    docs = spark.createDataFrame(
        [(1, a, "en"), (2, b, "en")], "doc_id long, text string, lang string"
    )
    out = fuzzy_duplicate_pairs(docs, block_cols=["lang"]).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]


def test_fuzzy_pairs_guardrail(spark):
    import pytest as _pytest

    from polars_order_book_spark.operators.dedup import fuzzy_duplicate_pairs

    docs = spark.createDataFrame([(1, "x", "en")],
                                 "doc_id long, text string, lang string")
    with _pytest.raises(ValueError):
        fuzzy_duplicate_pairs(docs, length_block=5, max_dist=10)


def test_leakage_safe_split_keeps_neardups_together(spark):
    """Near-identical docs must land in the SAME split regardless of their
    own ids' hash buckets; singletons split by their own id."""
    from polars_order_book_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base + f" tail{i % 2}", "en") for i in range(6)]  # 2 clusters of 3
    rows += [(100 + i, f"totally different text number {i} with unique words {i*7}", "en")
             for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = D.minhash_lsh_duplicates(docs, threshold=0.5)
    comps = D.neardup_components(pairs)
    out = D.leakage_safe_split(docs, comps, [0.5, 0.5], ["a", "b"]).toPandas()
    by_id = out.set_index("doc_id")
    # every doc in a component shares its component's group_id and split
    comp_rows = comps.toPandas()
    for comp, grp in comp_rows.groupby("component"):
        splits = {by_id.loc[d, "split"] for d in grp["doc_id"]}
        gids = {by_id.loc[d, "group_id"] for d in grp["doc_id"]}
        # group_id is the component's STRING form since r8 (a long
        # cast would NULL out non-numeric doc ids corpus-wide)
        assert len(splits) == 1 and gids == {str(comp)}
    # singletons fall back to their own id
    for d in (100, 101, 102, 103):
        if d not in set(comp_rows["doc_id"]):
            assert by_id.loc[d, "group_id"] == str(d)


def test_banding_recall_eval_counts_truth_and_caught(spark):
    """On a corpus where LSH catches everything, recall must be exactly 1
    with matching counts; with an empty sample recall is NULL."""
    from polars_order_book_spark.operators import dedup as D
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " one", "en"),
        (2, base + " two", "en"),          # near-dup of 1
        (3, "completely unrelated words nothing shared here at all okay", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = D.banding_recall_eval(docs, sample_filter=F.col("doc_id") <= 3).collect()[0]
    assert got["n_true"] >= 1
    assert got["n_caught"] == got["n_true"]
    assert got["recall_micro"] == 1_000_000
    empty = D.banding_recall_eval(docs, sample_filter=F.lit(False)).collect()[0]
    assert empty["n_true"] == 0 and empty["recall_micro"] is None


def test_ngram_jaccard_guards_do_not_change_results(spark):
    """Default guards (budget assert + prefix-group salting) vs both
    disabled vs a tiny cap that actually triggers salting — identical
    pairs in all three shapes."""
    docs = spark.createDataFrame(_doc_rows(), DOC_SCHEMA)

    def run(**kw):
        return sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.4, block_col="lang", **kw
            ).collect()
        )

    guarded = run()  # defaults: cap=4096, budget=10M
    plain = run(prefix_group_cap=None, candidate_budget=None)
    salted_hot = run(prefix_group_cap=2, candidate_budget=None)
    budget_only = run(prefix_group_cap=None, candidate_budget=10_000_000)
    assert guarded == plain == salted_hot == budget_only and guarded


def test_ngram_jaccard_candidate_budget_fails_fast(spark):
    """Over-budget corpora must die with a message naming the MinHash-LSH
    path, not OOM mid-join (the sf1 finding: 18.5M candidates killed an
    8 GiB heap silently)."""
    from py4j.protocol import Py4JJavaError

    docs = spark.createDataFrame(_doc_rows(), DOC_SCHEMA)
    q = dedup.ngram_jaccard_pairs(docs, threshold=0.4, candidate_budget=1)
    with pytest.raises(Exception) as ei:
        q.collect()
    msg = str(ei.value)
    assert "pair_budget" in msg and "dedup_minhash_lsh" in msg


def test_fuzzy_pairs_candidate_budget_fails_fast_and_is_inert_when_under(spark):
    """r8 scale check measured 55.8x at 10x data (saturated length-bucket
    blocks): fuzzy_duplicate_pairs now carries candidate_budget on BOTH
    candidate joins. Under the budget the guard changes nothing; over it
    the plan dies naming the LSH path before the quadratic stage."""
    from polars_order_book_spark.operators.dedup import fuzzy_duplicate_pairs

    base = "the quick brown fox jumps over the lazy dog " * 2
    docs = spark.createDataFrame(
        [(i, base.replace("quick", f"qu{i}ck") if i % 2 else base, "en")
         for i in range(1, 13)],
        "doc_id long, text string, lang string",
    )
    plain = sorted(map(tuple, fuzzy_duplicate_pairs(
        docs, block_cols=["lang"], candidate_budget=None).collect()))
    guarded = sorted(map(tuple, fuzzy_duplicate_pairs(
        docs, block_cols=["lang"], candidate_budget=10_000_000).collect()))
    tiny_cap = sorted(map(tuple, fuzzy_duplicate_pairs(
        docs, block_cols=["lang"], bucket_cap=3,
        candidate_budget=10_000_000).collect()))
    assert plain == guarded == tiny_cap and plain
    import pytest as _pt
    with _pt.raises(Exception) as ei:
        fuzzy_duplicate_pairs(
            docs, block_cols=["lang"], candidate_budget=5).collect()
    msg = str(ei.value)
    assert "pair_budget" in msg and "dedup_minhash_lsh" in msg


def test_fuzzy_segments_strategy_matches_buckets_exactly(spark):
    """r8 scale path: PassJoin-style segment candidates must reproduce the
    buckets strategy's output EXACTLY (same admission rule, same verified
    distances) — randomized corpus with planted near-dups, short docs,
    cross-bucket lengths, and multi-block structure."""
    import random

    from polars_order_book_spark.operators.dedup import fuzzy_duplicate_pairs

    rng = random.Random(17)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    did = 0
    for _ in range(60):
        n_words = rng.randint(1, 40)
        base = " ".join(rng.choice(vocab) for _ in range(n_words))
        lang = rng.choice(["en", "de"])
        rows.append((did, base, lang)); did += 1
        if rng.random() < 0.5:  # planted near-dup: a few char edits
            s = list(base)
            for _ in range(rng.randint(1, 6)):
                p = rng.randrange(len(s))
                s[p] = rng.choice("abcxyz ")
            rows.append((did, "".join(s), lang)); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kw = dict(block_cols=["lang"], candidate_budget=None)
    buckets = sorted(map(tuple, fuzzy_duplicate_pairs(
        docs, candidate_strategy="buckets", **kw).collect()))
    segments = sorted(map(tuple, fuzzy_duplicate_pairs(
        docs, candidate_strategy="segments", **kw).collect()))
    seg_salted = sorted(map(tuple, fuzzy_duplicate_pairs(
        docs, candidate_strategy="segments", bucket_cap=3, **kw).collect()))
    assert buckets == segments == seg_salted
    assert buckets  # the planted dups guarantee a non-empty result


def test_fuzzy_segments_rejects_degenerate_prefix(spark):
    from polars_order_book_spark.operators.dedup import fuzzy_duplicate_pairs

    docs = spark.createDataFrame([(1, "abc", "en")],
                                 "doc_id long, text string, lang string")
    import pytest as _pt
    with _pt.raises(ValueError, match="zero-length segments"):
        fuzzy_duplicate_pairs(
            docs, block_cols=["lang"], prefix_len=8, max_dist=10,
            length_block=10, candidate_strategy="segments",
        ).collect()


def test_incremental_pair_scores_match_batch_verify(spark):
    """r8 review: minhash_lsh_incremental_pairs' bipartite verify mirrors
    jaccard_verify's arithmetic in a parallel code block (it cannot call it
    — same-id docs on both sides would merge shingle sets). Pin the
    docstring's 'a pair scores identically whichever entry point meets it'
    so the copies cannot drift."""
    from polars_order_book_spark.operators.dedup import (
        jaccard_verify,
        minhash_lsh_incremental_pairs,
        shingles,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "a completely different document body here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base + " extra"), (11, "unrelated text entirely")],
        "doc_id long, text string",
    )
    inc = {
        (r["new_id"], r["corpus_id"]): (r["n_inter"], r["jaccard"])
        for r in minhash_lsh_incremental_pairs(new, corpus, threshold=0.3).collect()
    }
    # batch route: union both tables (ids disjoint here) and verify the pair
    sh = shingles(corpus.unionByName(new))
    pairs = spark.createDataFrame([(1, 10)], "doc_a long, doc_b long")
    batch = {
        (r["doc_b"], r["doc_a"]): (r["n_inter"], r["jaccard"])
        for r in jaccard_verify(pairs, sh, threshold=0.3).collect()
    }
    assert (10, 1) in inc
    assert inc[(10, 1)] == batch[(10, 1)]
