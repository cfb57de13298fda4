"""The streaming book's one fold function (``book_stream._book_fold``),
driven without Spark: a dict-backed ``GroupState`` stub holds each book's
state between micro-batches, and every micro-batch reaches the fold as
several shuffled pandas chunks per book, as ``applyInPandasWithState``
delivers it. Emitted snapshots must equal the naive reference
(``naive_book``), and every arrival-contract violation must raise
``OrderBookError``.
"""

import random

import pandas as pd
import pytest

from naive_book import top_n_keyed, valid_stream
from polars_order_book_spark import OrderBookError
from polars_order_book_spark.operators.order_book import snapshot_columns
from polars_order_book_spark.streaming.book_stream import (
    _book_fold,
    top_n_levels_stream,
)

COLS = ["book", "seq", "is_bid", "price", "qty", "prev_price", "prev_qty"]
BOOKS = ("A", "B")


class _State:
    """Dict-backed stand-in for ``GroupState``. ``update`` checks what the
    JVM side could not: arrays must be lists of Python ints or None, and
    scalars Python ints or None (a bool or numpy scalar would not round-trip
    through a LongType field)."""

    def __init__(self, store: dict, key: tuple):
        self.store, self.key = store, key

    @property
    def exists(self) -> bool:
        return self.key in self.store

    @property
    def get(self) -> tuple:
        return self.store[self.key]

    def update(self, value: tuple) -> None:
        *arrays, done = value
        assert len(arrays) == 4
        for v in [*(x for a in arrays for x in a), done]:
            assert v is None or type(v) is int, v
        self.store[self.key] = tuple(value)


def _fold(variant, n=3):
    prev = ("prev_price", "prev_qty") if variant == "modify" else (None, None)
    return _book_fold(variant, n, ["book"], "seq",
                      ("is_bid", "price", "qty", *prev))


def _run(fold, batches, store=None, seed=0, n=3):
    """Feed micro-batches of ``COLS`` rows; return {(book, seq): snapshot}
    of every emitted row."""
    rng = random.Random(seed)
    store = {} if store is None else store
    got = {}
    for batch in batches:
        pdf = pd.DataFrame(batch, columns=COLS[:len(batch[0])])
        for book, rows in pdf.groupby("book", sort=False):
            rows = rows.sample(frac=1, random_state=rng.randrange(2**31))
            cuts = sorted(rng.sample(range(1, len(rows)), min(2, len(rows) - 1)))
            chunks = [rows.iloc[a:b].reset_index(drop=True)
                      for a, b in zip([0, *cuts], [*cuts, len(rows)])]
            for out in fold((book,), iter(chunks), _State(store, (book,))):
                assert list(out.columns) == ["book", "seq", *snapshot_columns(n)]
                for rec in out.astype(object).itertuples(index=False):
                    snap = tuple(None if v is pd.NA else int(v) for v in rec[2:])
                    assert (rec[0], int(rec[1])) not in got
                    got[(rec[0], int(rec[1]))] = snap
    return got


def _two_books(variant, seed, m=120):
    """Two books' valid streams on one global seq axis (book A even seqs,
    book B odd), as ``(book, seq, …)`` rows in seq order."""
    rows = []
    for i, book in enumerate(BOOKS):
        for r in valid_stream(variant, seed + i, m):
            rows.append((book, 2 * r[0] + i, *r[1:]))
    return sorted(rows, key=lambda r: r[1])


def _batches(rows, rng, k=5):
    cuts = sorted(rng.sample(range(1, len(rows)), k - 1))
    return [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]


@pytest.mark.parametrize("variant", ["updates", "mutations", "modify"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_in_order_fold_matches_naive(variant, seed):
    rows = _two_books(variant, 101 * seed)
    batches = _batches(rows, random.Random(seed))
    store = {}
    got = _run(_fold(variant), batches, store, seed)
    assert got == top_n_keyed(rows, variant, 3)
    for book in BOOKS:  # `done` is the book's last seq
        assert store[(book,)][4] == max(s for b, s in got if b == book)


def _mut(*seqs):
    return [("A", s, True, 10, 1) for s in seqs]


def test_replayed_folded_seq_raises():
    store = {}
    _run(_fold("mutations"), [_mut(1, 2)], store)
    with pytest.raises(OrderBookError, match="event seq 2 arrived out of order"):
        _run(_fold("mutations"), [_mut(2, 3)], store)


def test_duplicate_within_batch_raises():
    with pytest.raises(OrderBookError, match="duplicate event seq 1"):
        _run(_fold("mutations"), [_mut(1, 1)])


def test_null_seq_raises():
    """A null seq reaches pandas as NaN in a float64 column; an int64 cast
    would fold it as seq INT64_MIN."""
    pdf = pd.DataFrame({
        "book": ["A"] * 3, "seq": [1.0, float("nan"), 3.0],
        "is_bid": [True] * 3, "price": [10] * 3, "qty": [1] * 3,
    })
    with pytest.raises(OrderBookError, match="null event seq"):
        list(_fold("mutations")(("A",), iter([pdf]), _State({}, ("A",))))


def test_reorder_horizon_is_gone():
    with pytest.raises(TypeError, match="reorder_horizon"):
        top_n_levels_stream(None, "mutations", reorder_horizon=0)


def test_float64_tick_past_exact_range_raises():
    """A nullable long column holding a null reaches pandas as float64, where
    2**53 + 1 already reads 2**53: the fold must refuse the column rather
    than move qty off the wrong level."""
    pdf = pd.DataFrame({
        "book": ["A", "A"], "seq": [0, 1], "is_bid": [True, True],
        "price": [5, 7], "qty": [3, 1],
        "prev_price": [float("nan"), 2.0 ** 53],
        "prev_qty": [float("nan"), 1.0],
    })
    with pytest.raises(OrderBookError, match="'prev_price'.*2\\*\\*53"):
        list(_fold("modify")(("A",), iter([pdf]), _State({}, ("A",))))
