"""N=1 fast-path book (``_SideBest``, chosen by ``_fold_arrays`` whenever
n == 1) must give the reference's snapshots — it only changes the side data
structure (tracked best + dict, ref: book_side_tracked_basic.rs:45-78),
never the semantics.

Differential tests run at the ``_fold_arrays`` level (pure Python — no Spark
job) against the Spark-free naive reference (``naive_book``), covering fresh
books, resumed state (the streaming/chunked hand-off round-trips ``_Side`` ↔
``_SideBest``), and the error contract.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from naive_book import top_n, top_n_arrays
from polars_order_book_spark.operators.order_book import (
    OrderBookError,
    _fold_arrays,
    _side_from_lists,
    _side_to_lists,
    _SideBest,
    snapshot_columns,
    top_n_levels_from_price_mutations,
)

from test_property_differential import (
    SCHEMA3,
    SETTINGS,
    by_seq,
    modify_stream,
    mutation_stream,
    update_stream,
)


def _run(variant, rows, bids=None, asks=None):
    seq = np.array([r[0] for r in rows], dtype=np.int64)
    is_bid = [r[1] for r in rows]
    price = [r[2] for r in rows]
    qty = [r[3] for r in rows]
    pp = [r[4] for r in rows] if variant == "modify" else None
    pq = [r[5] for r in rows] if variant == "modify" else None
    return _fold_arrays(
        variant, 1, seq, is_bid, price, qty, pp, pq, bids=bids, asks=asks,
    )


def _assert_same(got, want):
    (out_g, mask_g), (out_w, mask_w) = got, want
    np.testing.assert_array_equal(mask_g, mask_w)
    np.testing.assert_array_equal(out_g[~mask_g], out_w[~mask_w])


def _assert_matches_naive(rows, variant):
    out, mask, bids, asks = _run(variant, rows)
    assert isinstance(bids, _SideBest) and isinstance(asks, _SideBest)
    _assert_same((out, mask), top_n_arrays(rows, variant, 1))


@settings(**SETTINGS)
@given(rows=mutation_stream())
def test_property_fast_equals_generic_mutations(rows):
    _assert_matches_naive(rows, "mutations")


@settings(**SETTINGS)
@given(rows=update_stream())
def test_property_fast_equals_generic_updates(rows):
    _assert_matches_naive(rows, "updates")


@settings(**SETTINGS)
@given(rows=modify_stream())
def test_property_fast_equals_generic_modify(rows):
    _assert_matches_naive(rows, "modify")


@settings(**SETTINGS)
@given(rows=mutation_stream(), cut=st.integers(1, 7))
def test_property_fast_resume_state_roundtrip(rows, cut):
    """Split the stream, fold part 1 fast, serialize state through the
    streaming list shape, rebuild (as ``_Side``) and fold part 2 fast — the
    concatenation must equal the naive reference over the whole stream.
    Exercises both conversion directions of the state hand-off."""
    cut = min(cut, len(rows) - 1)
    a, b = rows[:cut], rows[cut:]
    out_a, mask_a, bids, asks = _run("mutations", a)
    assert isinstance(bids, _SideBest) and isinstance(asks, _SideBest)
    bp, bq = _side_to_lists(bids)
    ap, aq = _side_to_lists(asks)
    out_b, mask_b, _, _ = _run(
        "mutations", b,
        bids=_side_from_lists(bp, bq), asks=_side_from_lists(ap, aq),
    )
    _assert_same(
        (np.concatenate([out_a, out_b], axis=1),
         np.concatenate([mask_a, mask_b], axis=1)),
        top_n_arrays(rows, "mutations", 1),
    )


def test_fast_error_contract_matches_generic():
    for rows, msg in (
        ([(0, True, 5, 3), (1, True, 5, -4)], "Qty exceeds available"),  # over-delete
        ([(0, True, 5, 3), (1, True, 7, -1)], "Level not found"),  # missing level
    ):
        with pytest.raises(OrderBookError, match=msg):
            _run("mutations", rows)
        with pytest.raises(OrderBookError, match=msg):
            top_n(rows, "mutations", 1)


def test_side_best_rescan_on_best_delete():
    s = _SideBest(hi=True)
    s.add(5, 1)
    s.add(9, 2)
    s.add(7, 3)
    assert s.best == 9
    s.delete(9, 2)
    assert s.best == 7
    s.set_level(7, 0)
    assert s.best == 5
    s.delete(5, 1)
    assert s.best is None
    lo = _SideBest(hi=False)
    lo.set_level(4, 2)
    lo.set_level(2, 1)
    assert lo.best == 2
    lo.set_level(2, 0)
    assert lo.best == 4


def test_spark_n1_matches_n2_level1(spark):
    """End-to-end: the n=1 result (fast path) must equal the level-1 slice of
    the n=2 result (generic path) on the same stream."""
    rows = []
    book = {}
    for s in range(60):
        b = s % 2 == 0
        p = 1 + (s * 5) % 9
        q = 1 + s % 3
        if (b, p) in book and s % 4 == 0:
            q = -min(book[(b, p)], q)
        book[(b, p)] = book.get((b, p), 0) + q
        if book[(b, p)] == 0:
            del book[(b, p)]
        rows.append((s, b, p, q))
    df = spark.createDataFrame(rows, SCHEMA3)
    cols1 = snapshot_columns(1)
    got = by_seq(top_n_levels_from_price_mutations(df, n=1), cols1)
    want = by_seq(top_n_levels_from_price_mutations(df, n=2), cols1)
    assert got == want
