"""Pipeline-curation operators: connected components, deterministic sampling,
PII redaction."""

import pytest

from pyspark.sql import functions as F

from polars_order_book_spark.operators import dedup, sampling, text
from polars_order_book_spark.operators.dedup import (
    neardup_components,
    neardup_components_star,
)


def test_components_basic_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: (r["component"], r["is_survivor"])
           for r in neardup_components(pairs).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False),
    }


def test_components_long_chain_converges(spark):
    """A 12-node chain needs several star rounds — pins the iteration loop,
    not just the 1-hop case."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"]
    )
    rows = neardup_components_star(pairs).collect()
    assert all(r["component"] == 0 for r in rows)
    assert sum(r["is_survivor"] for r in rows) == 1
    assert len(rows) == 13


def test_components_nonconvergence_raises(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(8)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_components_star(pairs, max_iter=1)


def test_components_bad_algorithm_raises(spark):
    """The retired ``algorithm`` argument is rejected: one plan per size."""
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(TypeError):
        neardup_components(pairs, algorithm="star")


def test_components_auto_matches_star_random(spark):
    """neardup_components (driver union-find here — under the cap) must equal
    the distributed star rounds on a random multigraph with self-pairs and
    nulls."""
    import random

    rng = random.Random(19)
    rows = [(rng.randrange(30), rng.randrange(30)) for _ in range(50)]
    rows += [(3, 3), (None, 4), (5, None)]
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    via_auto = {
        (r["doc_id"], r["component"], r["is_survivor"])
        for r in neardup_components(pairs).collect()
    }
    via_star = {
        (r["doc_id"], r["component"], r["is_survivor"])
        for r in neardup_components_star(pairs).collect()
    }
    assert via_auto == via_star


def test_components_auto_falls_over_to_star_above_cap(spark):
    """A 200-edge chain over a driver cap of 10 edges must take the
    distributed star path (and still be correct) instead of collecting."""
    from unittest import mock

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
    )
    with mock.patch.object(dedup, "_MAX_DRIVER_EDGES", 10), mock.patch.object(
        dedup, "_components_driver_unionfind", side_effect=AssertionError
    ):
        out = neardup_components(pairs).collect()
    assert {(r["doc_id"], r["component"]) for r in out} == {
        (i, 0) for i in range(201)
    }
    assert sum(r["is_survivor"] for r in out) == 1


def test_hash_sample_invariant_to_partitioning(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in sampling.hash_sample(df, "k", 0.3).collect())
    b = sorted(r["k"] for r in sampling.hash_sample(df.repartition(13), "k", 0.3).collect())
    assert a == b
    # rate lands near 30% (hash uniformity)
    assert 0.2 < len(a) / 1000 < 0.4


def test_hash_sample_salts_are_independent(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    a = set(r["k"] for r in sampling.hash_sample(df, "k", 0.5, salt="s1").collect())
    b = set(r["k"] for r in sampling.hash_sample(df, "k", 0.5, salt="s2").collect())
    overlap = len(a & b) / 2000
    assert 0.15 < overlap < 0.35  # ~0.25 for independent halves


def test_hash_split_disjoint_and_covering(spark):
    df = spark.range(500).withColumnRenamed("id", "k")
    tr, va, te = sampling.hash_split(df, "k", [0.8, 0.1, 0.1])
    s = [set(r["k"] for r in d.collect()) for d in (tr, va, te)]
    assert s[0] | s[1] | s[2] == set(range(500))
    assert not (s[0] & s[1]) and not (s[0] & s[2]) and not (s[1] & s[2])
    assert len(s[0]) > len(s[1]) and len(s[0]) > len(s[2])


def test_hash_split_validates_weights(spark):
    df = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="sum to 1"):
        sampling.hash_split(df, "k", [0.5, 0.4])


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "contact me at alice@example.com or 555-123-4567 ok"),
            (2, "server at 192.168.0.1 responded"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    assert got[1]["redacted"] == "contact me at <EMAIL> or <PHONE> ok"
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 1 and got[1]["n_ipv4"] == 0
    assert got[2]["redacted"] == "server at <IPV4> responded"
    assert got[2]["n_ipv4"] == 1
    assert got[3]["redacted"] == "nothing sensitive here"
    assert got[3]["n_email"] == got[3]["n_phone"] == got[3]["n_ipv4"] == 0


def test_apply_dedup_keeps_survivors_and_singletons(spark):
    from polars_order_book_spark.operators.dedup import apply_dedup

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 4)], ["doc_a", "doc_b"])
    comps = neardup_components(pairs)
    kept = sorted(r["doc_id"] for r in apply_dedup(docs, comps).collect())
    # cluster {1,2,4} -> survivor 1; docs 0,3,5 untouched
    assert kept == [0, 1, 3, 5]


def test_redact_pii_counts_follow_the_chain(spark):
    """Counts are taken on progressively-redacted text: an email containing
    phone-shaped digits yields n_email=1, n_phone=0 (no double counting)."""
    df = spark.createDataFrame(
        [(1, "reach me: 555-123-4567@example.com thanks")], ["doc_id", "text"]
    )
    r = text.redact_pii(df).collect()[0]
    assert r["redacted"] == "reach me: <EMAIL> thanks"
    assert r["n_email"] == 1 and r["n_phone"] == 0 and r["n_ipv4"] == 0


def test_approx_quantile_bracket_holds_on_tiny_groups(spark):
    """Discrete order-statistic bracket: a 4-row group must not false-fail
    (interpolated brackets do — the sketch returns data elements)."""
    from polars_order_book_spark.plans.queries import value_quantiles_approx_checked

    df = spark.createDataFrame(
        [("g", float(v)) for v in (0, 10, 20, 1000)] + [("h", 7.0)],
        ["event_type", "value"],
    )
    rows = {r["event_type"]: r for r in value_quantiles_approx_checked(df).collect()}
    for g in ("g", "h"):
        assert rows[g]["p25_in_tol"] and rows[g]["p50_in_tol"] and rows[g]["p75_in_tol"]


def test_budget_pack_respects_quota_and_order(spark):
    rows = [(i, "src_a" if i < 20 else "src_b", "tok " * 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sampling.budget_pack(df, 50, by="source", shards=1).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    for src, kept in by_src.items():
        # each doc is 10 tokens; keep-while-not-full with budget 50 -> 5 docs
        assert len(kept) == 5, src
        assert max(r["cum_tokens"] for r in kept) == 50
        # kept set = the 5 lowest hash64(doc_id) of the group (unbiased draw)
        from polars_order_book_spark.functions.hashing import hash64
        ids = [i for i, s, _ in rows if s == src]
        hashes = {
            r["doc_id"]: r["h"]
            for r in spark.createDataFrame([(i,) for i in ids], "doc_id long")
            .select("doc_id", hash64(F.col("doc_id")).alias("h"))
            .collect()
        }
        want = set(sorted(ids, key=lambda i: (hashes[i], i))[:5])
        assert {r["doc_id"] for r in kept} == want


def test_budget_pack_keeps_at_least_one_doc_and_may_overshoot(spark):
    df = spark.createDataFrame(
        [(1, "s", "a b c d e f g h")], "doc_id long, source string, text string"
    )
    out = sampling.budget_pack(df, 3, by="source").collect()
    assert len(out) == 1 and out[0]["cum_tokens"] == 8


def test_budget_pack_shards_partition_the_quota(spark):
    rows = [(i, "s", "tok " * 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sampling.budget_pack(df, 100, by="source", shards=4).collect()
    shards = {}
    for r in out:
        shards.setdefault(r["pack_shard"], []).append(r["cum_tokens"])
    assert set(shards) <= {0, 1, 2, 3}
    # each shard's quota is 25 tokens -> keeps docs while cum-10 < 25
    for cums in shards.values():
        assert max(cums) <= 30


def test_budget_pack_validates_args(spark):
    df = spark.createDataFrame([(1, "s", "x")], "doc_id long, source string, text string")
    with pytest.raises(ValueError):
        sampling.budget_pack(df, 0)
    with pytest.raises(ValueError):
        sampling.budget_pack(df, 10, shards=0)
    with pytest.raises(ValueError):
        sampling.budget_pack(df, 3, shards=5)  # per-shard budget rounds to 0


def test_docfreq_score_integer_exact(spark):
    docs = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "dog bird"), (3, "cat dog bird")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in text.docfreq_score(docs).collect()}
    # df: cat->2 docs, dog->3, bird->2; N=3
    assert got[1]["sum_df"] == 2 + 2 + 3 and got[1]["n_tokens"] == 3
    assert got[1]["df_score"] == 7 / 9
    assert got[2]["sum_df"] == 3 + 2
    assert got[3]["sum_df"] == 2 + 3 + 2


def _mix_df(spark, counts):
    rows = []
    i = 0
    for src, n in counts.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    return spark.createDataFrame(rows, ["doc_id", "source"])


def test_domain_mix_rates_and_determinism(spark):
    # binding domain (a: 200 w=0.5 -> cap 400) keeps all; b,c downsample
    df = _mix_df(spark, {"a": 200, "b": 300, "c": 500})
    out = sampling.domain_mix_sample(df, {"a": 0.5, "b": 0.3, "c": 0.2})
    by_src = {r["source"]: r["cnt"] for r in
              out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert by_src["a"] == 200  # rate exactly 1.0 — every row kept
    # b target 120 (rate .4), c target 80 (rate .16); hash noise tolerance
    assert 90 <= by_src["b"] <= 150
    assert 55 <= by_src["c"] <= 105
    # invariant to partitioning (portable hash, not sample())
    again = sampling.domain_mix_sample(
        df.repartition(7), {"a": 0.5, "b": 0.3, "c": 0.2}
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_domain_mix_drops_unweighted_domains(spark):
    df = _mix_df(spark, {"a": 50, "b": 50, "junk": 50})
    out = sampling.domain_mix_sample(df, {"a": 0.5, "b": 0.5})
    assert out.where(F.col("source") == "junk").count() == 0


def test_domain_mix_validates_weights(spark):
    df = _mix_df(spark, {"a": 5})
    with pytest.raises(ValueError, match="sum to 1"):
        sampling.domain_mix_sample(df, {"a": 0.5})
    with pytest.raises(ValueError, match="positive"):
        sampling.domain_mix_sample(df, {"a": 1.5, "b": -0.5})
    with pytest.raises(ValueError, match="non-empty"):
        sampling.domain_mix_sample(df, {})


def test_domain_mix_is_lazy(spark):
    df = _mix_df(spark, {"a": 30, "b": 30})
    sc = spark.sparkContext
    n_before = max([-1, *(sc.statusTracker().getJobIdsForGroup(None) or [])])
    sampling.domain_mix_sample(df, {"a": 0.5, "b": 0.5})
    n_after = max([-1, *(sc.statusTracker().getJobIdsForGroup(None) or [])])
    assert n_after == n_before


def test_pack_sequences_layout_invariants(spark):
    rows = [(i, "s", "tok " * (i % 7 + 1)) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = sampling.pack_sequences(df, 16).collect()
    assert len(out) == 60
    # reconstruct the layout: within the hash order, offsets are contiguous
    ordered = sorted(out, key=lambda r: (r["seq_index"], r["start_offset"]))
    cum = 0
    for r in ordered:
        assert r["seq_index"] == cum // 16
        assert r["start_offset"] == cum % 16
        cum += r["n_tokens"]
    # partition-invariance (portable hash order, not physical order)
    again = sampling.pack_sequences(df.repartition(9), 16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pack_sequences_shards_and_validation(spark):
    rows = [(i, "s", "a b c") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = sampling.pack_sequences(df, 8, shards=4)
    assert out.select("pack_shard").distinct().count() == 4
    import pytest as _pt
    with _pt.raises(ValueError, match="seq_len_tokens"):
        sampling.pack_sequences(df, 0)


# --- property-based invariants for the samplers ------------------------------

from hypothesis import HealthCheck, given, settings as hsettings, strategies as st

_PROP_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@hsettings(**_PROP_SETTINGS)
@given(
    counts=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=30, max_value=200),
        min_size=2,
        max_size=4,
    ),
    wsplit=st.integers(min_value=1, max_value=9),
)
def test_domain_mix_proportions_property(spark, counts, wsplit):
    """For any domain sizes and any 2-way weight split: rates never exceed 1,
    the binding domain keeps everything, and realized counts track targets
    within hash noise."""
    doms = sorted(counts)[:2]
    weights = {doms[0]: wsplit / 10, doms[1]: 1 - wsplit / 10}
    df = _mix_df(spark, counts)
    out = sampling.domain_mix_sample(df, weights)
    by_src = {r["source"]: r["cnt"] for r in
              out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert set(by_src) <= set(doms)
    t = min(counts[d] / weights[d] for d in doms)
    for d in doms:
        target = weights[d] * t
        assert by_src.get(d, 0) <= counts[d]  # never upsample
        if counts[d] <= target + 1e-9:  # binding domain: rate 1, exact
            assert by_src.get(d, 0) == counts[d]
        else:
            # hash-threshold realization: binomial noise around the target
            assert abs(by_src.get(d, 0) - target) <= 4 * (target ** 0.5) + 3


@hsettings(**_PROP_SETTINGS)
@given(
    n_docs=st.integers(min_value=5, max_value=80),
    seq_len=st.integers(min_value=4, max_value=64),
    shards=st.integers(min_value=1, max_value=3),
)
def test_pack_sequences_contiguity_property(spark, n_docs, seq_len, shards):
    """For any corpus/bin/shard sizes: per (source, shard) the layout is a
    contiguous token tape — offsets chain exactly, bins advance by div."""
    rows = [(i, "s" + str(i % 2), "w " * (i % 9 + 1)) for i in range(n_docs)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = sampling.pack_sequences(df, seq_len, shards=shards).collect()
    assert len(out) == n_docs
    groups = {}
    for r in out:
        groups.setdefault((r["source"], r["pack_shard"]), []).append(r)
    for rs in groups.values():
        rs.sort(key=lambda r: (r["seq_index"], r["start_offset"]))
        cum = 0
        for r in rs:
            assert r["seq_index"] == cum // seq_len
            assert r["start_offset"] == cum % seq_len
            cum += r["n_tokens"]


def test_profile_table_single_pass_and_values(spark):
    from polars_order_book_spark.operators.profiling import (
        profile_approx_distinct,
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "ab", "en"), (2, None, "en"), (3, "abcd", None)],
        ["id", "text", "lang"],
    )
    row = profile_table(
        df, exact_distinct=("lang",), length_of=("text",)
    ).first()
    assert row["n_rows"] == 3
    assert row["id_nulls"] == 0 and row["text_nulls"] == 1 and row["lang_nulls"] == 1
    assert row["lang_distinct"] == 1
    assert (row["text_len_min"], row["text_len_max"]) == (2, 4)
    assert abs(row["text_len_avg"] - 3.0) < 1e-9
    approx = profile_approx_distinct(df, ["lang"]).first()
    assert approx["lang_approx_distinct"] >= 1


def test_category_index_deterministic_dense(spark):
    df = spark.createDataFrame(
        [(1, "fr"), (2, "en"), (3, "de"), (4, "en"), (5, None)],
        ["doc_id", "lang"],
    )
    got = {r["doc_id"]: r["lang_id"]
           for r in sampling.category_index(df, "lang").collect()}
    assert got == {1: 2, 2: 1, 3: 0, 4: 1, 5: None}  # sorted: de, en, fr
    again = {r["doc_id"]: r["lang_id"]
             for r in sampling.category_index(df.repartition(5), "lang").collect()}
    assert again == got


def test_stratified_sample_exact_counts_and_determinism(spark):
    rows = [(i, f"lang{i % 3}", f"s{i % 2}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    out = sampling.stratified_sample(df, 4, strata=["lang", "source"])
    counts = {
        (r["lang"], r["source"]): r["n"]
        for r in out.groupBy("lang", "source").agg(F.count("*").alias("n")).collect()
    }
    # 6 strata x 10 rows each -> every stratum yields exactly 4
    assert counts == {(f"lang{i}", f"s{j}"): 4 for i in range(3) for j in range(2)}
    # ranks are 1..4 within each stratum
    assert set(r["sample_rank"] for r in out.collect()) == {1, 2, 3, 4}
    # partitioning-invariant: same ids after a repartition
    ids = {r["doc_id"] for r in out.collect()}
    ids2 = {
        r["doc_id"]
        for r in sampling.stratified_sample(
            df.repartition(7), 4, strata=["lang", "source"]
        ).collect()
    }
    assert ids == ids2


def test_stratified_sample_small_stratum_and_prefilter_consistency(spark):
    rows = [(i, "en") for i in range(3)] + [(100 + i, "de") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.stratified_sample(df, 5, strata=["lang"])
    by_lang = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang == {"en": 3, "de": 5}  # small stratum keeps all its rows
    # pre-thinning with a PREFIX threshold on the ordering hash preserves the
    # top-n exactly (a prefix of the order can't evict top-ranked rows)
    from polars_order_book_spark.functions.hashing import hash64

    h = hash64(F.concat(F.col("doc_id").cast("string"), F.lit("")))
    tau = sorted(
        r[0] for r in df.where(F.col("lang") == "de").select(h).collect()
    )[20]  # keeps 20 of 50 'de' rows — comfortably >= 5
    thinned = df.where((F.col("lang") != "de") | (h < tau))
    full = {r["doc_id"] for r in out.where(F.col("lang") == "de").collect()}
    thin = {
        r["doc_id"]
        for r in sampling.stratified_sample(thinned, 5, strata=["lang"])
        .where(F.col("lang") == "de")
        .collect()
    }
    assert thin == full


def test_temperature_mix_quotas_and_determinism(spark):
    """alpha=0.5 quotas ∝ sqrt(n), computed with exact integer micros: a
    900-row domain gets sqrt-weight 30e6 vs a 100-row domain's 10e6, so a
    40-row target splits 30/10 (vs 36/4 proportional) — small domains
    upweighted. Selection is hash-deterministic across partitionings."""
    import math

    rows = [(i, "big") for i in range(900)] + [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = sampling.temperature_mix_sample(df, 40, by="source").collect()
    quotas = {r["source"]: r["quota"] for r in out}
    m_big = math.floor(math.sqrt(900) * 1e6 + 0.5)
    m_small = math.floor(math.sqrt(100) * 1e6 + 0.5)
    mm = m_big + m_small
    assert quotas == {"big": (40 * m_big) // mm, "small": (40 * m_small) // mm}
    assert quotas["small"] == 10  # vs 4 under proportional sampling
    counts = {}
    for r in out:
        counts[r["source"]] = counts.get(r["source"], 0) + 1
    assert counts == quotas
    # deterministic under repartitioning
    again = sorted(
        (r["doc_id"], r["source"])
        for r in sampling.temperature_mix_sample(
            df.repartition(13), 40, by="source"
        ).collect()
    )
    assert again == sorted((r["doc_id"], r["source"]) for r in out)


def test_temperature_mix_validates_and_caps(spark):
    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with pytest.raises(ValueError, match="total_target"):
        sampling.temperature_mix_sample(df, 0)
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_mix_sample(df, 5, alpha=0.0)
    many = spark.createDataFrame(
        [(i, f"s{i}") for i in range(20)], ["doc_id", "source"]
    )
    with pytest.raises(ValueError, match="max_domains"):
        sampling.temperature_mix_sample(many, 5, max_domains=10)


def test_stratified_sample_validates_args(spark):
    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError):
        sampling.stratified_sample(df, 0, strata=["lang"])
    with pytest.raises(ValueError):
        sampling.stratified_sample(df, 3, strata=[])


# --- weighted sampling (A-ES) ------------------------------------------------

def test_weighted_sample_exact_k_deterministic_and_weight_sensitive(spark):
    from polars_order_book_spark.operators.sampling import weighted_sample

    rows = [(i, 1 if i < 90 else 10_000) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, w long")
    out1 = sorted(r["id"] for r in weighted_sample(df, "id", "w", 20).collect())
    out2 = sorted(
        r["id"]
        for r in weighted_sample(df.repartition(13), "id", "w", 20).collect()
    )
    assert out1 == out2 and len(out1) == 20  # partitioning-independent
    # the 10 heavy keys (10000x weight) should essentially always be chosen
    assert sum(1 for i in out1 if i >= 90) == 10
    # different salt -> different light-key selection
    out3 = sorted(
        r["id"] for r in weighted_sample(df, "id", "w", 20, salt="b").collect()
    )
    assert out1 != out3


def test_weighted_sample_excludes_nonpositive_and_caps_at_n(spark):
    import pytest as _pytest

    from polars_order_book_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -1), (4, None)], "id long, w long"
    )
    got = [r["id"] for r in weighted_sample(df, "id", "w", 10).collect()]
    assert got == [1]
    with _pytest.raises(ValueError):
        weighted_sample(df, "id", "w", 0)


# --- split_assign (deterministic train/val/test labels) ---------------------


def test_split_assign_matches_hash_split_membership(spark):
    from polars_order_book_spark.operators.sampling import hash_split, split_assign

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    labeled = split_assign(df, "k", [0.8, 0.1, 0.1], ["train", "val", "test"])
    rows = {r["k"]: r["split"] for r in labeled.collect()}
    assert len(rows) == 500 and None not in rows.values()
    splits = hash_split(df, "k", [0.8, 0.1, 0.1])
    for name, sdf in zip(["train", "val", "test"], splits):
        member = {r["k"] for r in sdf.collect()}
        labeled_member = {k for k, s in rows.items() if s == name}
        assert member == labeled_member, name
    # rough proportions
    n_train = sum(1 for s in rows.values() if s == "train")
    assert 350 < n_train < 450


def test_split_assign_stable_under_repartition_and_append(spark):
    from polars_order_book_spark.operators.sampling import split_assign

    df = spark.range(0, 300).withColumnRenamed("id", "k")
    base = {r["k"]: r["split"] for r in split_assign(df, "k", [0.5, 0.5]).collect()}
    rep = {r["k"]: r["split"]
           for r in split_assign(df.repartition(13), "k", [0.5, 0.5]).collect()}
    assert base == rep
    grown = spark.range(0, 600).withColumnRenamed("id", "k")
    after = {r["k"]: r["split"] for r in split_assign(grown, "k", [0.5, 0.5]).collect()}
    assert all(after[k] == v for k, v in base.items())


def test_split_assign_guards(spark):
    import pytest as _pytest

    from polars_order_book_spark.operators.sampling import split_assign

    df = spark.range(3).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError, match="align"):
        split_assign(df, "k", [0.5, 0.5], ["only_one"])
    with _pytest.raises(ValueError, match="sum to 1"):
        split_assign(df, "k", [0.5, 0.4])


def test_curriculum_order_round_robins_bins(spark):
    from polars_order_book_spark.operators import sampling

    rows = [(i, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id LONG, score DOUBLE").repartition(7)
    out = sampling.curriculum_order(df, "score", n_bins=10).collect()
    assert len(out) == 100
    by_key = sorted(out, key=lambda r: r["order_key"])
    # each consecutive 10-window touches every bin exactly once
    for w in range(10):
        bins = sorted(r["bin"] for r in by_key[w * 10:(w + 1) * 10])
        assert bins == list(range(10)), (w, bins)
    # ntile bins are metric-ordered: bin 0 holds the 10 lowest scores
    bin0 = sorted(r["doc_id"] for r in out if r["bin"] == 0)
    assert bin0 == list(range(10))
    # deterministic under repartitioning
    again = sampling.curriculum_order(df.repartition(3), "score", n_bins=10).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_curriculum_order_guard(spark):
    from polars_order_book_spark.operators import sampling
    import pytest as _pytest

    df = spark.createDataFrame([(1, 1.0)], "doc_id LONG, score DOUBLE")
    with _pytest.raises(ValueError, match="n_bins"):
        sampling.curriculum_order(df, "score", n_bins=0)


def test_bigram_lm_heldout_unseen_transitions_score_zero(spark):
    """Model trained on train_df only: a val transition absent from training
    contributes 0 micros but still counts in n_bigrams; log_scale with a
    foreign model is rejected."""
    from polars_order_book_spark.operators.text import bigram_lm_score
    import pytest

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    val = spark.createDataFrame(
        [(10, "a b"), (11, "z q a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_bigrams"], r["lm_micros"])
           for r in bigram_lm_score(val, train_df=train).collect()}
    # train model: c(a b)=3, c(a .)=3 -> p(b|a)=1.0 -> 1_000_000 micros
    assert got[10] == (1, 1_000_000)
    # "z q","q a" unseen -> 0 each; "a b" seen -> 1e6
    assert got[11] == (3, 1_000_000)
    with pytest.raises(ValueError, match="self-trained"):
        bigram_lm_score(val, train_df=train, log_scale=True)


def test_bigram_lm_self_trained_unchanged_by_left_join(spark):
    """Self-trained scoring is identical with the left-join rewrite (every
    scored pair exists in the model)."""
    from polars_order_book_spark.operators.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "x y x y z"), (2, "y z y x")], "doc_id long, text string"
    )
    a = {r["doc_id"]: (r["n_bigrams"], r["lm_micros"])
         for r in bigram_lm_score(df).collect()}
    b = {r["doc_id"]: (r["n_bigrams"], r["lm_micros"])
         for r in bigram_lm_score(df, train_df=df).collect()}
    assert a == b
