"""Property-based differential testing: the exact fold vs the Spark-free
naive book (``tests/naive_book.py``) on hypothesis-generated VALID event
streams; the modify test also checks that ``modify_to_mutations`` deltas
fold to the same book as the modify rows.

Generators interpret hypothesis choices into streams that respect the error
contract (deletes never exceed available qty, modifies always move existing
qty), so any divergence is an engine bug, not an invalid input. This
extends the fixed-seed differential tests with structured search + shrinking.
"""

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from polars_order_book_spark import (
    modify_to_mutations,
    snapshot_columns,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_mutations_with_modify,
    top_n_levels_from_price_updates,
)
from naive_book import top_n

SCHEMA3 = StructType([
    StructField("seq", LongType()),
    StructField("is_bid", BooleanType()),
    StructField("price", LongType()),
    StructField("qty", LongType()),
])
SCHEMA5 = StructType(SCHEMA3.fields + [
    StructField("prev_price", LongType()),
    StructField("prev_qty", LongType()),
])

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def mutation_stream(draw):
    m = draw(st.integers(8, 48))
    book: dict = {}
    rows = []
    for s in range(m):
        b = draw(st.booleans())
        live = sorted((p for (bb, p), q in book.items() if bb == b and q > 0))
        if live and draw(st.booleans()):
            p = draw(st.sampled_from(live))
            q = -draw(st.integers(1, book[(b, p)]))
        else:
            p = draw(st.integers(1, 8))
            q = draw(st.integers(0, 6))  # includes no-op zeros
        book[(b, p)] = book.get((b, p), 0) + q
        rows.append((s, b, p, q))
    return rows


@st.composite
def update_stream(draw):
    m = draw(st.integers(8, 48))
    return [
        (
            s,
            draw(st.booleans()),
            draw(st.integers(1, 8)),
            draw(st.integers(0, 6)),  # 0 = delete level (or ignored if absent)
        )
        for s in range(m)
    ]


@st.composite
def modify_stream(draw):
    m = draw(st.integers(8, 40))
    book: dict = {}
    rows = []
    for s in range(m):
        b = draw(st.booleans())
        live = sorted((p for (bb, p), q in book.items() if bb == b and q > 0))
        op = draw(st.integers(0, 3)) if live else 0
        if op == 0:  # plain add
            p, q = draw(st.integers(1, 8)), draw(st.integers(1, 6))
            book[(b, p)] = book.get((b, p), 0) + q
            rows.append((s, b, p, q, None, None))
        elif op == 1:  # full modify: move dq from pp to p
            pp = draw(st.sampled_from(live))
            dq = draw(st.integers(1, book[(b, pp)]))
            p = draw(st.integers(1, 8))
            book[(b, pp)] -= dq
            book[(b, p)] = book.get((b, p), 0) + dq
            rows.append((s, b, p, dq, pp, dq))
        elif op == 2:  # modify-to-zero: delete pq at pp
            pp = draw(st.sampled_from(live))
            pq = draw(st.integers(1, book[(b, pp)]))
            book[(b, pp)] -= pq
            rows.append((s, b, pp, 0, pp, pq))
        else:  # qty-only shrink: level pq -> q at p
            p = draw(st.sampled_from(live))
            pq = book[(b, p)]
            q = draw(st.integers(1, pq))
            book[(b, p)] = q
            rows.append((s, b, p, q, None, pq))
    return rows


def by_seq(df, cols):
    return {r["seq"]: tuple(r[c] for c in cols) for r in df.collect()}


@settings(**SETTINGS)
@given(rows=mutation_stream(), n=st.sampled_from([1, 3]))
def test_property_mutations_a_equals_b(spark, rows, n):
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(n)
    a = by_seq(top_n_levels_from_price_mutations(df, n=n), cols)
    assert a == top_n(rows, "mutations", n)


@settings(**SETTINGS)
@given(rows=update_stream(), n=st.sampled_from([1, 3]))
def test_property_updates_a_equals_b(spark, rows, n):
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(n)
    a = by_seq(top_n_levels_from_price_updates(df, n=n), cols)
    assert a == top_n(rows, "updates", n)


@settings(**SETTINGS)
@given(rows=modify_stream(), n=st.sampled_from([1, 2]))
def test_property_modify_a_equals_b(spark, rows, n):
    df = spark.createDataFrame(rows, SCHEMA5)
    cols = snapshot_columns(n)
    a = by_seq(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=n
        ),
        cols,
    )
    assert a == top_n(rows, "modify", n)
    deltas = [tuple(r) for r in modify_to_mutations(df).collect()]
    b = top_n(deltas, "mutations", n)
    assert set(a) == set(b)  # every input seq must appear in both
    assert a == b


# --- triangle counting vs brute force ---------------------------------------

@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0,
        max_size=25,
    )
)
def test_property_triangle_count_matches_bruteforce(spark, edges):
    from itertools import combinations

    from polars_order_book_spark.operators.graph import triangle_count

    adj = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in adj for n in e})
    expected = {}
    for u, v, w in combinations(nodes, 3):
        if ((u, v) in adj and (u, w) in adj and (v, w) in adj):
            for n in (u, v, w):
                expected[n] = expected.get(n, 0) + 1

    df = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"  # empty-list schema workaround
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == expected


# --- gap-fill invariants ------------------------------------------------------

@settings(**SETTINGS)
@given(
    obs=st.dictionaries(
        st.integers(0, 12), st.integers(-50, 50), min_size=1, max_size=6
    )
)
def test_property_gap_fill_monotone_between_neighbors(spark, obs):
    """Filled values are exact at observations, and every hole lies within
    [min(prev, next), max(prev, next)] of its bracketing observations."""
    from polars_order_book_spark.operators.timeseries import gap_fill_linear

    rows = [("k", i, float(v)) for i, v in obs.items()]
    df = spark.createDataFrame(rows, "k string, idx long, value double")
    out = sorted(
        gap_fill_linear(df, by=["k"], idx_col="idx", value_col="value").collect(),
        key=lambda r: r["idx"],
    )
    lo, hi = min(obs), max(obs)
    assert [r["idx"] for r in out] == list(range(lo, hi + 1))
    sorted_obs = sorted(obs.items())
    for r in out:
        if r["idx"] in obs:
            assert r["is_observed"] and r["value"] == float(obs[r["idx"]])
        else:
            prev = max((i, v) for i, v in sorted_obs if i < r["idx"])
            nxt = min((i, v) for i, v in sorted_obs if i > r["idx"])
            lo_v, hi_v = sorted((prev[1], nxt[1]))
            assert lo_v - 1e-9 <= r["value"] <= hi_v + 1e-9
            assert not r["is_observed"]


# --- OFI vs a pure-Python replay ---------------------------------------------

@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.tuples(st.integers(1, 5), st.integers(1, 9))),
            st.one_of(st.none(), st.tuples(st.integers(6, 10), st.integers(1, 9))),
        ),
        min_size=0,
        max_size=12,
    )
)
def test_property_ofi_matches_python_model(spark, rows):
    from polars_order_book_spark.operators.market import order_flow_imbalance

    data = []
    for i, (bid, ask) in enumerate(rows):
        bp, bq = bid if bid else (None, None)
        ap, aq = ask if ask else (None, None)
        data.append((0, i, bp, bq, ap, aq))

    expected = 0
    n_flows = 0
    prev = None
    for _, _, bp, bq, ap, aq in data:
        if prev is not None:
            pbp, pbq, pap, paq = prev
            if None not in (bp, ap, pbp, pap):
                e = ((bq if bp >= pbp else 0) - (pbq if bp <= pbp else 0)
                     - (aq if ap <= pap else 0) + (paq if ap >= pap else 0))
                expected += e
                n_flows += 1
        prev = (bp, bq, ap, aq)

    df = spark.createDataFrame(
        data or [(0, 0, None, None, None, None)],
        "book long, seq long, bid_price_1 long, bid_qty_1 long, "
        "ask_price_1 long, ask_qty_1 long",
    )
    got = order_flow_imbalance(df, 10_000, by=["book"]).collect()
    if n_flows == 0:
        assert got == []
    else:
        assert len(got) == 1
        assert got[0]["ofi"] == expected and got[0]["n_flows"] == n_flows


# --- fuzzy dedup completeness -------------------------------------------------

@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=12), min_size=2, max_size=8
    )
)
def test_property_fuzzy_pairs_complete_within_block(spark, texts):
    """Every pair whose normalized-prefix edit distance <= max_dist MUST be
    reported when blocking cannot separate it (single lang, length_block
    wide enough that all docs share bucket 0)."""
    from polars_order_book_spark.operators.dedup import fuzzy_duplicate_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return d[n]

    docs = [(i, t, "en") for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_duplicate_pairs(
               df, block_cols=["lang"], length_block=64, prefix_len=64,
               max_dist=3).collect()}
    expected = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = lev(texts[i].strip().lower(), texts[j].strip().lower())
            if d <= 3:
                expected[(i, j)] = d
    assert got == expected


# --- seeded NBBO chunks vs one chunk -----------------------------------------

@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                       # book
            st.one_of(st.none(), st.tuples(st.integers(90, 99), st.integers(1, 9))),
            st.one_of(st.none(), st.tuples(st.integers(100, 109), st.integers(1, 9))),
        ),
        min_size=1,
        max_size=24,
    ),
    width=st.sampled_from([1, 3, 7, 1000]),
)
def test_property_nbbo_chunked_equals_global(spark, rows, width):
    from tests.test_nbbo import nbbo_rows, py_rows

    data = []
    for i, (book, bid, ask) in enumerate(rows):
        bp, bq = bid if bid else (None, None)
        ap, aq = ask if ask else (None, None)
        data.append((book, i + 1, bp, bq, ap, aq))
    snaps = spark.createDataFrame(
        data,
        "book long, seq long, bid_price_1 long, bid_qty_1 long, "
        "ask_price_1 long, ask_qty_1 long",
    )
    base = nbbo_rows(snaps, [0, 1, 2])
    assert base == py_rows(data, [0, 1, 2])
    assert nbbo_rows(snaps, [0, 1, 2], width) == base


# --- semdedup vs brute-force reference --------------------------------------


@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=-5, max_value=5), min_size=4, max_size=4),
        min_size=2,
        max_size=24,
    ),
    threshold=st.sampled_from([0.3, 0.6, 0.9]),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_property_semdedup_matches_python_reference(spark, vecs, threshold):
    """semdedup's (cell, keep) verdicts must equal a transparent O(n^2)
    python reference implementing the same rules: squared-L2 argmin cell
    (first-index ties), then drop b iff exists a<b same-cell with
    cosine >= threshold. Zero-vectors get filtered (cosine undefined)."""
    import math

    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(vecs)
        if any(x != 0 for x in v)
    ]
    if len(rows) < 2:
        return
    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, -1.0]]

    def cell_of(v):
        d = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
        return d.index(min(d))

    def cos(u, v):
        du = math.sqrt(sum(x * x for x in u))
        dv = math.sqrt(sum(x * x for x in v))
        return sum(a * b for a, b in zip(u, v)) / (du * dv)

    expected = {}
    for i, v in rows:
        c = cell_of(v)
        dropped = any(
            cell_of(u) == c and cos(u, v) >= threshold
            for j, u in rows
            if j < i
        )
        expected[i] = (c, 0 if dropped else 1)

    from polars_order_book_spark.operators import similarity

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in similarity.semdedup(
            df, centroids=cents, threshold=threshold, dim=4
        ).collect()
    }
    assert got == expected


# --- dup span cuts vs python reference ---------------------------------------


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    ),
    k=st.sampled_from([2, 3]),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_property_dup_span_cuts_matches_python_reference(spark, texts, k):
    """Interval output must equal a transparent reference: shared k-windows
    (same gram in >= 2 docs), merged when gaps <= k."""
    docs = [(i, " ".join(t)) for i, t in enumerate(texts)]
    grams = {}
    for i, t in enumerate(texts):
        for p in range(len(t) - k + 1):
            grams.setdefault(tuple(t[p:p + k]), set()).add(i)
    shared = {g for g, ds in grams.items() if len(ds) > 1}
    expected = set()
    for i, t in enumerate(texts):
        pos = [p for p in range(len(t) - k + 1) if tuple(t[p:p + k]) in shared]
        if not pos:
            continue
        start, prev, n = pos[0], pos[0], 1
        for p in pos[1:]:
            if p - prev > k:
                expected.add((i, start, prev + k, n))
                start, n = p, 0
            prev = p
            n += 1
        expected.add((i, start, prev + k, n))

    from polars_order_book_spark.operators.text import dup_span_cuts

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok_excl"], r["n_windows"])
        for r in dup_span_cuts(df, k=k).collect()
    }
    assert got == expected
