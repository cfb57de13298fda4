"""NBBO consolidation: cross-book best, consolidated size, stale-quote decode."""

import pytest

from polars_order_book_spark.operators.nbbo import nbbo


def _snaps(spark, rows):
    return spark.createDataFrame(
        rows,
        "book long, seq long, bid_price_1 long, bid_qty_1 long, "
        "ask_price_1 long, ask_qty_1 long",
    )


def test_best_across_books_and_consolidated_size(spark):
    snaps = _snaps(spark, [
        (0, 1, 10, 5, 12, 3),
        (1, 2, 11, 2, 13, 4),   # book 1 takes the bid lead
        (0, 3, 11, 7, 12, 1),   # book 0 joins the 11 bid -> size consolidates
    ])
    out = {r["seq"]: r for r in nbbo(snaps, books=[0, 1]).collect()}
    assert (out[1]["nbb_price"], out[1]["nbb_qty"]) == (10, 5)
    assert (out[2]["nbb_price"], out[2]["nbb_qty"]) == (11, 2)
    assert (out[3]["nbb_price"], out[3]["nbb_qty"]) == (11, 2 + 7)
    # min ask wins; book 0's 12 stays best throughout
    assert (out[3]["nbo_price"], out[3]["nbo_qty"]) == (12, 1)


def test_emptied_side_stops_contributing(spark):
    """Book 0's bid side empties at seq 2: a naive ignore-nulls fill would
    keep quoting its stale 10 bid forever — the sentinel decode must not."""
    snaps = _snaps(spark, [
        (0, 1, 10, 5, None, None),
        (0, 2, None, None, None, None),  # book 0 now fully empty
        (1, 3, 8, 2, None, None),
    ])
    out = {r["seq"]: r for r in nbbo(snaps, books=[0, 1]).collect()}
    assert (out[1]["nbb_price"], out[1]["nbb_qty"]) == (10, 5)
    assert out[2]["nbb_price"] is None and out[2]["nbb_qty"] is None
    assert (out[3]["nbb_price"], out[3]["nbb_qty"]) == (8, 2)


def test_unseen_books_and_validation(spark):
    snaps = _snaps(spark, [(0, 1, 10, 5, 12, 3)])
    # declaring extra venues that never quote must not change the result
    out = nbbo(snaps, books=[0, 1, 2, 3]).collect()
    assert (out[0]["nbb_price"], out[0]["nbo_price"]) == (10, 12)
    with pytest.raises(ValueError, match="books"):
        nbbo(snaps, books=[])


# --- differential: random snapshot streams vs a brute-force simulator --------

from hypothesis import HealthCheck, given, settings as hsettings, strategies as st


def _nbbo_py(rows, books):
    """Brute-force model: replay snapshots, track each book's l1, emit best."""
    state = {b: (None, None, None, None) for b in books}
    out = {}
    for book, seq, bp, bq, ap, aq in sorted(rows, key=lambda r: r[1]):
        state[book] = (bp, bq, ap, aq)
        bids = [(s[0], s[1]) for s in state.values() if s[0] is not None]
        asks = [(s[2], s[3]) for s in state.values() if s[2] is not None]
        nbb = max((p for p, _ in bids), default=None)
        nbo = min((p for p, _ in asks), default=None)
        nbb_q = sum(q for p, q in bids if p == nbb) if nbb is not None else None
        nbo_q = sum(q for p, q in asks if p == nbo) if nbo is not None else None
        out[seq] = (nbb, nbb_q, nbo, nbo_q)
    return out


@hsettings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                        # book
            st.one_of(st.none(), st.integers(1, 9)),  # bid price (None = empty)
            st.integers(1, 5),                        # bid qty
            st.one_of(st.none(), st.integers(1, 9)),  # ask price
            st.integers(1, 5),                        # ask qty
        ),
        min_size=1,
        max_size=20,
    )
)
def test_nbbo_matches_bruteforce(spark, rows):
    data = [
        (book, seq, bp, (bq if bp is not None else None),
         ap, (aq if ap is not None else None))
        for seq, (book, bp, bq, ap, aq) in enumerate(rows)
    ]
    got = {
        r["seq"]: (r["nbb_price"], r["nbb_qty"], r["nbo_price"], r["nbo_qty"])
        for r in nbbo(_snaps(spark, data), books=[0, 1, 2]).collect()
    }
    assert got == _nbbo_py(data, [0, 1, 2])


def test_nbbo_chunked_equals_global(spark):
    """Segmented-scan fill (chunk_size) must reproduce the single-window
    result exactly, including carries across silent chunks and sentinel
    re-emptying."""
    import random

    rng = random.Random(7)
    rows = []
    for seq in range(1, 161):
        book = rng.choice([0, 1, 2])
        bid_empty = rng.random() < 0.2
        ask_empty = rng.random() < 0.2
        rows.append((
            book, seq,
            None if bid_empty else rng.randint(90, 110),
            None if bid_empty else rng.randint(1, 9),
            None if ask_empty else rng.randint(111, 130),
            None if ask_empty else rng.randint(1, 9),
        ))
    snaps = spark.createDataFrame(
        rows,
        "book long, seq long, bid_price_1 long, bid_qty_1 long, "
        "ask_price_1 long, ask_qty_1 long",
    )
    from polars_order_book_spark.operators.nbbo import nbbo

    base = sorted(map(tuple, nbbo(snaps, [0, 1, 2], chunk_size=None).collect()))
    for chunk in (7, 40, 1000, "auto"):
        chunked = sorted(
            map(tuple, nbbo(snaps, [0, 1, 2], chunk_size=chunk).collect())
        )
        assert chunked == base, f"chunk_size={chunk}"
    # the default IS the auto segmented scan
    assert sorted(map(tuple, nbbo(snaps, [0, 1, 2]).collect())) == base


def test_nbbo_default_plan_has_no_global_timeline_window(spark):
    """Scale pin (r5 default flip): the DEFAULT plan must never forward-fill
    through ONE unpartitioned events-sized window — only the chunks-sized
    carry prefix-scan may be unpartitioned. An unpartitioned timeline window
    shows up as windowspecdefinition(seq ASC ...) with no partition columns;
    the within-chunk fill partitions by __ck first."""
    snaps = _snaps(spark, [(0, 1, 10, 1, 12, 1), (1, 2, 11, 2, 13, 2)])
    plan = nbbo(snaps, books=[0, 1])._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(seq#" not in plan, plan
    # opt-out keeps the single global window
    plan_global = (
        nbbo(snaps, books=[0, 1], chunk_size=None)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "windowspecdefinition(seq#" in plan_global, plan_global


def test_nbbo_chunked_guardrail(spark):
    from polars_order_book_spark.operators.nbbo import nbbo

    snaps = spark.createDataFrame(
        [(0, 1, 10, 1, 12, 1)],
        "book long, seq long, bid_price_1 long, bid_qty_1 long, "
        "ask_price_1 long, ask_qty_1 long",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        nbbo(snaps, [0], chunk_size=0)


def test_unlisted_book_fails_loudly_instead_of_vanishing(spark):
    """r8 self-review: pivot(__book, books) silently discarded rows from
    books missing from the caller's list — a best bid on the unlisted venue
    vanished from the NBBO. Now a per-row assert."""
    import pytest as _pt

    from polars_order_book_spark.operators.nbbo import nbbo

    rows = [
        (1, 0, 10, 5, 12, 5),
        (1, 2, 11, 5, 13, 5),  # book 2 NOT in the caller's list
    ]
    snaps = spark.createDataFrame(
        rows, "seq long, book long, bid_price_1 long, bid_qty_1 long,"
              " ask_price_1 long, ask_qty_1 long"
    )
    with _pt.raises(Exception, match="not in the caller's books list"):
        nbbo(snaps, books=[0, 1]).collect()
    # complete list: the book-2 bid wins
    got = nbbo(snaps, books=[0, 1, 2]).collect()[0]
    assert got["nbb_price"] == 11
