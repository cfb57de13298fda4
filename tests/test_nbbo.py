"""NBBO consolidation: cross-book best, consolidated size, stale-quote decode."""

import pytest

from polars_order_book_spark.operators import nbbo as nbbo_module
from polars_order_book_spark.operators.nbbo import nbbo

# Chunk widths in seq units; unpatched, a test input is one chunk.
WIDTHS = (1, 7, 40, 1000)


def nbbo_rows(snaps, books, width=None):
    """nbbo's rows as sorted tuples, with ``_CHUNK_WIDTH`` set to ``width``."""
    with pytest.MonkeyPatch.context() as mp:
        if width is not None:
            mp.setattr(nbbo_module, "_CHUNK_WIDTH", width)
        return sorted(map(tuple, nbbo(snaps, books).collect()))


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
    keep quoting its stale 10 bid forever — the fold must not."""
    snaps = _snaps(spark, [
        (0, 1, 10, 5, None, None),
        (0, 2, None, None, None, None),  # book 0 now fully empty
        (1, 3, 8, 2, None, None),
    ])
    out = {r["seq"]: r for r in nbbo(snaps, books=[0, 1]).collect()}
    assert (out[1]["nbb_price"], out[1]["nbb_qty"]) == (10, 5)
    assert out[2]["nbb_price"] is None and out[2]["nbb_qty"] is None
    assert (out[3]["nbb_price"], out[3]["nbb_qty"]) == (8, 2)


def test_negative_and_old_sentinel_prices_are_quotes(spark):
    """A null price is the only empty side: a bid at -1 (the old encode
    sentinel) or below is a real quote at every chunk width."""
    rows = [
        (0, 1, -1, 5, None, None),
        (1, 2, -3, 4, -1, 2),
    ]
    snaps = _snaps(spark, rows)
    want = [(1, -1, 5, None, None), (2, -1, 5, -1, 2)]
    assert py_rows(rows, [0, 1]) == want
    assert nbbo_rows(snaps, [0, 1]) == want
    for width in WIDTHS:
        assert nbbo_rows(snaps, [0, 1], width) == want, width


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


def py_rows(rows, books):
    """The brute-force model's NBBO rows as sorted tuples, like nbbo_rows."""
    return sorted((seq, *best) for seq, best in _nbbo_py(rows, books).items())


@hsettings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                        # book
            st.one_of(st.none(), st.integers(-3, 9)),  # bid price (None = empty)
            st.integers(1, 5),                        # bid qty
            st.one_of(st.none(), st.integers(-3, 9)),  # ask price
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
    """Seeded chunks must reproduce the one-chunk result exactly, including
    carries across silent chunks and sides that empty again."""
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
    snaps = _snaps(spark, rows)
    base = nbbo_rows(snaps, [0, 1, 2])
    assert base == py_rows(rows, [0, 1, 2])
    for width in WIDTHS:
        assert nbbo_rows(snaps, [0, 1, 2], width) == base, f"_CHUNK_WIDTH={width}"


def test_sparse_seqs_seed_only_chunks_with_rows(spark):
    """Timestamp-like seqs, 10^12 units apart: every row is its own chunk
    at any width, and the chunks between them hold nothing. Each chunk that
    holds rows gets one seed per book quoted before it, and no other chunk
    gets any."""
    from pyspark.sql import functions as F

    rows = [
        (i % 3, (i + 1) * 10**12 + i, 90 + i % 7, 1 + i % 4, 120 - i % 5, 2)
        for i in range(30)
    ]
    snaps = _snaps(spark, rows)
    want = py_rows(rows, [0, 1, 2])
    assert nbbo_rows(snaps, [0, 1, 2]) == want
    assert nbbo_rows(snaps, [0, 1, 2], 1) == want
    tagged = snaps.select(
        F.expr(f"seq div {nbbo_module._CHUNK_WIDTH}").alias("__ck"), "seq", "book",
        *[F.col(q).alias(s) for q, s in zip(nbbo_module._QUOTES, nbbo_module._SIDES)],
    )
    seeds = nbbo_module._seeds(tagged, [0, 1, 2], "long", "long").collect()
    # chunk i holds row i, of book i % 3: chunks 1 and 2 get 1 and 2
    # seeds, and each later chunk all 3
    assert len(seeds) == 1 + 2 + 3 * 27
    assert {r["__ck"] for r in seeds} == {r[1] // nbbo_module._CHUNK_WIDTH for r in rows[1:]}


def test_epoch_nanosecond_seqs_fold(spark):
    """Seqs near 1.7e18, 1 s apart: every row is its own chunk, so every
    fold batch holds seed rows. A null seq on the seeds made Arrow hand the
    fold a float64 seq column, which cannot hold these values exactly."""
    rows = [
        (i % 3, 1_700_000_000_000_000_000 + i * 10**9,
         90 + i % 7, 1 + i % 4, 120 - i % 5, 2)
        for i in range(40)
    ]
    want = py_rows(rows, [0, 1, 2])
    assert nbbo_rows(_snaps(spark, rows), [0, 1, 2]) == want


def test_nbbo_default_plan_has_no_global_timeline_window(spark):
    """Scale pin: the plan must never run ONE unpartitioned events-sized
    window ordered by seq. It is one fold: one MapInPandas, no pivot, no
    window over seq (the chunk carry-in window runs over the chunks x books
    summary) and no scalar subquery (the chunk id is ``seq div W``)."""
    import re

    snaps = _snaps(spark, [(0, 1, 10, 1, 12, 1), (1, 2, 11, 2, 13, 2)])
    plan = nbbo(snaps, books=[0, 1])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "pivot" not in plan.lower(), plan
    assert not re.search(r"windowspecdefinition\([^)]*\bseq#", plan), plan
    assert "scalar-subquery" not in plan, plan


def test_nbbo_chunked_guardrail(spark):
    snaps = _snaps(spark, [(0, 1, 10, 1, 12, 1)])
    # the chunk width is derived, never passed
    with pytest.raises(TypeError, match="chunk_size"):
        nbbo(snaps, [0], chunk_size=2000)
    # the fold would read float ticks as ints, and a null seq has no place
    # in the seq order
    with pytest.raises(ValueError, match="tick dtype double"):
        nbbo(snaps.withColumn("bid_price_1", snaps.bid_price_1 + 0.5), [0])
    with pytest.raises(Exception, match="null seq"):
        nbbo(snaps.withColumn("seq", snaps.seq + None), [0]).collect()


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


# --- the per-chunk fold, Spark-free ------------------------------------------

import pandas as pd

from polars_order_book_spark.operators.nbbo import _nbbo_fold

_FOLD_COLS = ["__ck", "__seed", "seq", "book", "bp", "bq", "ap", "aq"]


def _fold_input(rows, chunk_of):
    """The sorted rows the plan hands the fold: each present chunk opens
    with one seed row (``__seed`` set, seq 0) per book quoted before it,
    carrying that book's last snapshot, then the chunk's own rows in seq
    order."""
    rows = sorted(rows, key=lambda r: r[1])
    out, last = [], {}
    for ck in sorted({chunk_of(r[1]) for r in rows}):
        out += [(ck, True, 0, b, *q) for b, q in sorted(last.items())]
        for book, seq, *q in rows:
            if chunk_of(seq) == ck:
                out.append((ck, False, seq, book, *q))
                last[book] = tuple(q)
    return out


def _run_fold(rows, cuts=()):
    """Feed ``rows`` to _nbbo_fold as pandas batches split at ``cuts``."""
    bounds = [0, *sorted(cuts), len(rows)]
    batches = [
        pd.DataFrame(rows[a:b], columns=_FOLD_COLS)
        for a, b in zip(bounds, bounds[1:]) if b > a
    ]
    got = {}
    for frame in _nbbo_fold(iter(batches)):
        for seq, *best in frame.itertuples(index=False):
            assert seq not in got, f"seq {seq} emitted twice"
            got[seq] = tuple(None if pd.isna(v) else v for v in best)
    return got


def test_fold_one_seq_across_two_batches():
    rows = [(0, False, 1, 0, 10, 5, 12, 3), (0, False, 1, 1, 10, 2, 11, 4),
            (0, False, 2, 1, 9, 1, 11, 4)]
    want = {1: (10, 7, 11, 4), 2: (10, 5, 11, 4)}
    for cuts in ((), (1,), (2,), (1, 2)):
        assert _run_fold(rows, cuts) == want, cuts


def test_fold_seeds_then_silent_books():
    # chunk 1: books 0 and 1 only seed; book 2 quotes on its own
    rows = [
        (1, True, 0, 0, 10, 5, None, None),
        (1, True, 0, 1, 11, 1, 13, 2),
        (1, False, 20, 2, 11, 3, 12, 1),
        (1, False, 21, 2, None, None, 13, 6),
    ]
    assert _run_fold(rows) == {20: (11, 4, 12, 1), 21: (11, 1, 13, 8)}
    assert _run_fold(rows, (1, 3)) == _run_fold(rows)


def test_fold_chunk_change_resets_state():
    # chunk 1 has no seed for book 0: its chunk-0 quote must not leak in
    rows = [(0, False, 1, 0, 10, 5, 12, 3), (1, False, 5, 1, 8, 2, 14, 1)]
    assert _run_fold(rows) == {1: (10, 5, 12, 3), 5: (8, 2, 14, 1)}
    assert _run_fold(rows, (1,)) == _run_fold(rows)


@hsettings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                         # book
            st.integers(0, 15),                        # seq (gaps, shared seqs)
            st.one_of(st.none(), st.integers(-3, 9)),  # bid price
            st.integers(1, 5),
            st.one_of(st.none(), st.integers(-3, 9)),  # ask price
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: (r[0], r[1]),              # one row per (book, seq)
    ),
    width=st.integers(1, 8),
    data=st.data(),
)
def test_fold_chunks_and_batches_match_bruteforce(rows, width, data):
    snaps = [
        (book, seq, bp, (bq if bp is not None else None),
         ap, (aq if ap is not None else None))
        for book, seq, bp, bq, ap, aq in rows
    ]
    fold_rows = _fold_input(snaps, lambda seq: seq // width)
    cuts = data.draw(st.sets(st.integers(1, max(1, len(fold_rows) - 1))))
    assert _run_fold(fold_rows, cuts) == _nbbo_py(snaps, [0, 1, 2])
