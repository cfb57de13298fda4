"""The streaming book's one fold function (``book_stream._book_fold``),
driven without Spark: a dict-backed ``GroupState`` stub holds each book's
state between micro-batches, and every micro-batch reaches the fold as
several shuffled pandas chunks per book, as ``applyInPandasWithState``
delivers it. Emitted snapshots must equal the naive reference
(``naive_book``) at horizon 0 (in-order) and at a horizon h > 0 with
arrivals permuted within h, and every arrival-contract violation must
raise ``OrderBookError``.
"""

import random

import pandas as pd
import pytest

from naive_book import top_n_keyed, valid_stream
from polars_order_book_spark import OrderBookError
from polars_order_book_spark.operators.order_book import snapshot_columns
from polars_order_book_spark.streaming.book_stream import _book_fold

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
        *arrays, wm, done = value
        assert len(arrays) == 10
        for v in [*(x for a in arrays for x in a), wm, done]:
            assert v is None or type(v) is int, v
        self.store[self.key] = tuple(value)


def _fold(variant, n=3, horizon=0):
    prev = ("prev_price", "prev_qty") if variant == "modify" else (None, None)
    return _book_fold(variant, n, ["book"], "seq",
                      ("is_bid", "price", "qty", *prev), horizon)


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
    for book in BOOKS:  # horizon 0: nothing stays pending
        _, _, _, _, pend_seq, *_, wm, done = store[(book,)]
        assert pend_seq == [] and wm == done


@pytest.mark.parametrize("variant", ["updates", "mutations", "modify"])
@pytest.mark.parametrize("horizon", [3, 17])
def test_reorder_fold_matches_naive(variant, horizon):
    for seed in range(5):
        rng = random.Random(1000 * horizon + seed)
        rows = _two_books(variant, seed)
        # Arrival order by seq + jitter in [0, h): every event arrives
        # after only events with seq < its own + h, i.e. within the horizon.
        arrived = sorted(rows, key=lambda r: r[1] + rng.random() * horizon)
        store = {}
        got = _run(_fold(variant, horizon=horizon), _batches(arrived, rng), store, seed)
        want = top_n_keyed(rows, variant, 3)
        # Each book's watermark is the max seq of its own events.
        bound = {b: max(s for bb, s in want if bb == b) - horizon for b in BOOKS}
        assert set(got) == {(b, s) for b, s in want if s <= bound[b]}
        assert got == {k: want[k] for k in got}
        for book in BOOKS:
            pend_seq = store[(book,)][4]
            assert pend_seq == sorted(s for b, s in want if b == book and s > bound[book])


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


def test_duplicate_of_pending_seq_raises():
    store = {}
    _run(_fold("mutations", horizon=100), [_mut(1, 2)], store)
    assert store[("A",)][4] == [1, 2]
    with pytest.raises(OrderBookError, match="duplicate event seq 2"):
        _run(_fold("mutations", horizon=100), [_mut(2, 3)], store)


def test_seq_beyond_horizon_raises():
    store = {}
    _run(_fold("mutations", horizon=5), [_mut(*range(10))], store)
    with pytest.raises(OrderBookError, match="reorder horizon"):
        _run(_fold("mutations", horizon=5), [_mut(3)], store)


def test_restart_with_larger_horizon_rejects_folded_seq():
    """A restart from an in-order checkpoint with a larger horizon lowers
    wm − h below the folded seqs; ``done`` must still reject a replay."""
    store = {}
    _run(_fold("mutations"), [_mut(1, 2, 3)], store)
    with pytest.raises(OrderBookError, match="event seq 2 arrived out of order"):
        _run(_fold("mutations", horizon=5), [_mut(2)], store)


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
