"""Independent oracle for the benchmark's folds.

``snapshots`` recomputes each row's top-N from a plain per-book dict with
``sorted`` -- deliberately naive, sharing no code with the program's kernel.
``checksum`` reproduces Spark's ``sum(xxhash64(cols...))`` over the result
columns in numpy, so the oracle's answer can be compared with the one number
the timed action collects.
"""

from __future__ import annotations

import numpy as np

NULL = np.iinfo(np.int64).min  # pad value for a missing level; never a price/qty


class OracleError(ValueError):
    """The stream breaks the format's contract (missing level, over-delete)."""


def _delete(levels: dict, price: int, qty: int) -> None:
    cur = levels.get(price)
    if cur is None:
        raise OracleError(f"delete from missing level {price}")
    if qty > cur:
        raise OracleError(f"delete {qty} from level {price} holding {cur}")
    if qty == cur:
        del levels[price]
    else:
        levels[price] = cur - qty


def _add(levels: dict, price: int, qty: int) -> None:
    levels[price] = levels.get(price, 0) + qty


def _apply(levels: dict, fmt: str, price, qty, prev_price, prev_qty) -> None:
    if fmt == "updates":
        if qty:
            levels[price] = qty
        else:
            levels.pop(price, None)
    elif fmt == "mutations" or (prev_price is None and prev_qty is None):
        if qty > 0:
            _add(levels, price, qty)
        elif qty < 0:
            _delete(levels, price, -qty)
    elif prev_price is not None:  # move prev_qty@prev_price to qty@price
        _delete(levels, prev_price, prev_qty)
        if qty:
            _add(levels, price, qty)
    elif qty == 0:  # prev_qty only: the order leaves its level
        _delete(levels, price, prev_qty)
    else:  # prev_qty only: the order shrinks (or grows) in place
        _delete(levels, price, prev_qty - qty)


def _top(levels: dict, n: int, is_bid: bool) -> tuple:
    prices = sorted(levels, reverse=is_bid)[:n]
    out = []
    for p in prices:
        out += (p, levels[p])
    return tuple(out) + (NULL,) * (2 * (n - len(prices)))


def snapshots(cols: dict, fmt: str, n: int, keyed: bool) -> np.ndarray:
    """(rows, 4n) int64 snapshot matrix in ``snapshot_columns(n)`` order,
    ``NULL`` where a level is missing. Rows follow ``cols`` order, which must
    be seq order within each book."""
    books: dict = {}
    empty = (NULL,) * (2 * n)
    bid_rows, ask_rows = [], []
    keys = cols["product_id"] if keyed else [0] * len(cols["price"])
    prev_p = cols.get("prev_price") or [None] * len(cols["price"])
    prev_q = cols.get("prev_qty") or [None] * len(cols["price"])
    for key, is_bid, price, qty, pp, pq in zip(
        keys, cols["is_bid"], cols["price"], cols["qty"], prev_p, prev_q
    ):
        book = books.get(key)
        if book is None:
            book = books[key] = [{}, {}, empty, empty]  # bids, asks, tops
        side = 0 if is_bid else 1
        _apply(book[side], fmt, price, qty, pp, pq)
        book[2 + side] = _top(book[side], n, is_bid)
        bid_rows.append(book[2])
        ask_rows.append(book[3])
    bids = np.array(bid_rows, dtype=np.int64).reshape(-1, 2 * n)
    asks = np.array(ask_rows, dtype=np.int64).reshape(-1, 2 * n)
    out = np.empty((len(bid_rows), 4 * n), dtype=np.int64)
    out[:, 0::4], out[:, 1::4] = bids[:, 0::2], bids[:, 1::2]
    out[:, 2::4], out[:, 3::4] = asks[:, 0::2], asks[:, 1::2]
    return out


# Spark's XXH64 (catalyst.expressions.XXH64.hashLong) with the xxhash64
# expression's seed 42; a null column leaves the running hash unchanged.
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h ^= _rotl(v * _P2, 31) * _P1
    h = _rotl(h, 27) * _P1 + _P4
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def checksum(columns: "list[np.ndarray]") -> tuple[int, int]:
    """``(sum(xxhash64(*columns)), count)`` as Spark computes it over long
    columns, with ``NULL`` entries treated as SQL nulls."""
    rows = len(columns[0])
    h = np.full(rows, SEED, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for col in columns:
            col = np.asarray(col, dtype=np.int64)
            nulls = col == NULL
            nxt = _hash_long(col.view(np.uint64), h)
            h = np.where(nulls, h, nxt)
    return int(h.view(np.int64).astype(object).sum()), rows
