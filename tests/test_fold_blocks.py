"""``_fold_arrays`` runs in blocks of ``_FOLD_BLOCK_BYTES // (32 * n)`` rows,
each resuming from the live (bids, asks) state with its column 0 as the
forward-fill baseline. At the real budget the first boundary sits at 4,096
rows (n=20), past every small test stream, so these tests shrink the budget
to 3-row blocks and require the blocked fold to equal the single-block fold,
a fold resumed from (bids, asks) at a random cut, and the naive reference
(``naive_book``), which recomputes the top-N on every row. Seeded and
hypothesis-generated streams both cross those edges. Spark-free: the kernel
is called directly.
"""

import random
from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from naive_book import top_n, top_n_arrays, valid_stream
from polars_order_book_spark.operators import order_book
from polars_order_book_spark.operators.order_book import _fold_arrays
from test_property_differential import (
    SETTINGS,
    modify_stream,
    mutation_stream,
    update_stream,
)

STREAMS = {
    "updates": update_stream(),
    "mutations": mutation_stream(),
    "modify": modify_stream(),
}


def _fold(variant, n, rows, bids=None, asks=None):
    cols = list(zip(*rows))
    return _fold_arrays(
        variant, n, np.array(cols[0], dtype=np.int64),
        list(cols[1]), list(cols[2]), list(cols[3]),
        list(cols[4]) if variant == "modify" else None,
        list(cols[5]) if variant == "modify" else None,
        bids=bids, asks=asks,
    )


def _assert_same(got, want):
    (out_g, mask_g), (out_w, mask_w) = got, want
    np.testing.assert_array_equal(mask_g, mask_w)
    np.testing.assert_array_equal(out_g[~mask_g], out_w[~mask_w])


@pytest.mark.parametrize("variant", ["mutations", "modify"])
@pytest.mark.parametrize("n", [1, 3, 20])
def test_blocked_fold_equals_single_block_and_resumed(monkeypatch, variant, n):
    seed = 7919 * n + len(variant)
    rows = valid_stream(variant, seed)
    out, mask, _, _ = _fold(variant, n, rows)  # one block at the real budget
    _assert_same((out, mask), top_n_arrays(rows, variant, n))

    monkeypatch.setattr(order_book, "_FOLD_BLOCK_BYTES", 32 * n * 3)
    b_out, b_mask, _, _ = _fold(variant, n, rows)
    _assert_same((b_out, b_mask), (out, mask))

    cut = random.Random(seed).randrange(1, len(rows))
    a_out, a_mask, bids, asks = _fold(variant, n, rows[:cut])
    r_out, r_mask, _, _ = _fold(variant, n, rows[cut:], bids=bids, asks=asks)
    _assert_same(
        (np.concatenate([a_out, r_out], axis=1),
         np.concatenate([a_mask, r_mask], axis=1)),
        (out, mask),
    )


@pytest.mark.parametrize("variant", STREAMS)
@pytest.mark.parametrize("n", [1, 3, 20])
@settings(**SETTINGS)
@given(data=st.data())
def test_property_streams_fold_in_tiny_blocks(variant, n, data):
    """The property suites' generated streams, folded in 3-row blocks, equal
    the naive reference at every depth's emit path."""
    rows = data.draw(STREAMS[variant])
    with mock.patch.object(order_book, "_FOLD_BLOCK_BYTES", 32 * n * 3):
        out, mask, _, _ = _fold(variant, n, rows)
    _assert_same((out, mask), top_n_arrays(rows, variant, n))


@pytest.mark.parametrize("n", [0, 21])
def test_kernel_rejects_unsupported_depth(n):
    rows = valid_stream("mutations", 5, m=10)
    with pytest.raises(order_book.OrderBookError, match="Unsupported number of levels"):
        _fold("mutations", n, rows)


@pytest.mark.parametrize("variant", ["mutations", "modify"])
@pytest.mark.parametrize("n", [1, 3])
def test_budget_below_one_column_folds_one_row_per_block(monkeypatch, variant, n):
    """A budget under 32·n bytes still folds, one row per block."""
    rows = valid_stream(variant, 31 * n, m=60)
    monkeypatch.setattr(order_book, "_FOLD_BLOCK_BYTES", 1)
    out, mask, _, _ = _fold(variant, n, rows)
    _assert_same((out, mask), top_n_arrays(rows, variant, n))


@pytest.mark.parametrize("at", [2, 3])
def test_null_price_at_block_edge_raises_with_its_seq(monkeypatch, at):
    """3-row blocks: a null price as the last row of the first block (2)
    or the first row of the second (3) raises naming that row's seq."""
    rows = [(100 + s, b, p, q) for s, b, p, q in valid_stream("mutations", 11, m=9)]
    rows[at] = (rows[at][0], rows[at][1], None, rows[at][3])
    monkeypatch.setattr(order_book, "_FOLD_BLOCK_BYTES", 32 * 2 * 3)
    with pytest.raises(order_book.OrderBookError, match=f"at seq={100 + at} "):
        _fold("mutations", 2, rows)
    with pytest.raises(order_book.OrderBookError, match=f"at seq={100 + at}$"):
        top_n(rows, "mutations", 2)
