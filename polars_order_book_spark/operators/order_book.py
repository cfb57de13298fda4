"""Top-N order-book level snapshots — exact stateful fold (strategy A).

Re-expresses the reference's operator family
(ref: polars_order_book/polars_order_book/__init__.py:22-210,
ref: polars_order_book/src/calculate_bbo.rs:62-113) as one streamed pandas
UDF: ``df.repartition(book_keys).sortWithinPartitions(book_keys, seq)
.mapInPandas(fold_stream, schema)``.

Semantics contract (SURVEY.md §2.1-2.5, FIXTURES.md):

* For every input event row, emit the current top-N price levels (price +
  aggregate qty) per side AFTER applying that event. Output row *i* depends on
  all rows 1..*i* of its book — a prefix-scan, so Spark needs an explicit
  ordering column ``seq`` (the reference relies on implicit row order,
  ref: README.md:182 — the one real semantic delta).
* Three event formats:
  - price updates   (set-level;  qty=0 deletes, ref: update.rs:101-105)
  - price mutations (signed delta; >0 add, <0 delete, 0 no-op,
    ref: update.rs:113-123)
  - mutations with modify (atomic order move, 9-way decision table,
    ref: update.rs:132-162)
* Error contract (ref: update.rs:8-16, book_side.rs:91-112, errors.rs:8-19):
  null is_bid/price/qty → error; delete on missing level → "Level not found";
  delete more than available → "Qty exceeds available"; n ∉ 1..=20 →
  "Unsupported number of levels".

Scale notes (100 TB design): parallelism = number of books, exactly the
reference's own scaling story (ref: README.md:184-197). One book is inherently
sequential state; Spark shuffles by the book keys and each task folds its
books in seq order, carrying the live book across Arrow batches, with
numpy-buffered output (mirroring the preallocated builders at
ref: polars_order_book/src/output.rs:47-54). Per-task memory is one Arrow
batch plus the live book, at any book depth. A keyless book therefore folds
in one task.
"""

from __future__ import annotations

from bisect import bisect_left, insort
from typing import Callable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, DecimalType, IntegerType, LongType, ShortType, StructField, StructType,
)

MAX_LEVELS = 20  # reference guardrail, ref: calculate_bbo.rs:120-123

# Ship this module inside the UDF closure (pickle-by-value) so executors don't
# need the package on their PYTHONPATH — the Spark analog of the reference
# shipping a compiled cdylib to the host engine (ref: _utils.py:55-84).
def _register_self_by_value(module_name: str | None = None) -> None:
    import sys

    from pyspark import cloudpickle

    mod = sys.modules.get(module_name or __name__)
    if mod is not None:
        try:
            cloudpickle.register_pickle_by_value(mod)
        except Exception:
            pass


_register_self_by_value()


class OrderBookError(ValueError):
    """Mirrors the reference's ComputeError (ref: errors.rs:8-19)."""


def snapshot_columns(n: int) -> list[str]:
    """Interleaved per level i: bid_price_i, bid_qty_i, ask_price_i, ask_qty_i
    (ref: calculate_bbo.rs:31-58)."""
    cols: list[str] = []
    for i in range(1, n + 1):
        cols += [f"bid_price_{i}", f"bid_qty_{i}", f"ask_price_{i}", f"ask_qty_{i}"]
    return cols


def _check_n(n: int) -> None:
    if not (1 <= n <= MAX_LEVELS):
        raise OrderBookError(f"Unsupported number of levels: {n}")


# ---------------------------------------------------------------------------
# Book state: dict price->qty per side + ascending sorted price list (bisect).
# The reference keeps a HashMap + incrementally-maintained top-N array
# (ref: book_side_tracked.rs:14-18, top_n_levels.rs:69-138); a C-backed sorted
# list gives the same O(log L) lookup with O(L) memmove inserts — fast in
# practice and far simpler. Top-N emit is an O(n) slice either way.
# ---------------------------------------------------------------------------


class _Side:
    __slots__ = ("levels", "prices")

    def __init__(self) -> None:
        self.levels: dict[int, int] = {}
        self.prices: list[int] = []  # ascending

    def add(self, price: int, qty: int) -> None:
        # ref: book_side.rs:55-70 (create-or-increment)
        cur = self.levels.get(price)
        if cur is None:
            self.levels[price] = qty
            insort(self.prices, price)
        else:
            self.levels[price] = cur + qty

    def delete(self, price: int, qty: int) -> None:
        # ref: book_side.rs:91-112; negative qty passes the check and adds,
        # mirroring the Rust signed arithmetic (used by qty-only modify).
        cur = self.levels.get(price)
        if cur is None:
            raise OrderBookError(f"Level not found: price={price}")
        if qty > cur:
            raise OrderBookError(
                f"Qty exceeds available: delete {qty} from level {price} holding {cur}"
            )
        if qty == cur:
            del self.levels[price]
            del self.prices[bisect_left(self.prices, price)]
        else:
            self.levels[price] = cur - qty

    def set_level(self, price: int, qty: int) -> None:
        # ref: order_book.rs:58-72; qty=0 on missing level silently ignored
        # (ref: book_side_tracked_basic.rs:139-145)
        cur = self.levels.get(price)
        if qty == 0:
            if cur is not None:
                del self.levels[price]
                del self.prices[bisect_left(self.prices, price)]
        elif cur is None:
            self.levels[price] = qty
            insort(self.prices, price)
        else:
            self.levels[price] = qty


class _SideBest:
    """N=1 fast-path side: price->qty dict plus the tracked best price only
    (ref: book_side_tracked_basic.rs:45-78). Inserts/deletes are O(1) dict ops
    with a best-price comparison — no sorted-list memmove; only deleting the
    best itself rescans the dict (O(L), rare), exactly the reference's
    basic-tracker trade. ``hi=True`` tracks the max (bids), else the min."""

    __slots__ = ("levels", "best", "hi")

    def __init__(self, hi: bool) -> None:
        self.levels: dict[int, int] = {}
        self.best: int | None = None
        self.hi = hi

    @classmethod
    def from_side(cls, side: "object | None", hi: bool) -> "_SideBest":
        if isinstance(side, cls):
            return side
        out = cls(hi)
        if side is not None and side.levels:  # type: ignore[union-attr]
            out.levels = dict(side.levels)  # type: ignore[union-attr]
            out.best = max(out.levels) if hi else min(out.levels)
        return out

    def _rescan(self) -> None:
        # ref: book_side_tracked_basic.rs:96-104 (recompute best on its removal)
        self.best = (
            (max(self.levels) if self.hi else min(self.levels)) if self.levels else None
        )

    def _maybe_promote(self, price: int) -> None:
        if self.best is None or (price > self.best if self.hi else price < self.best):
            self.best = price

    def add(self, price: int, qty: int) -> None:
        cur = self.levels.get(price)
        if cur is None:
            self.levels[price] = qty
            self._maybe_promote(price)
        else:
            self.levels[price] = cur + qty

    def delete(self, price: int, qty: int) -> None:
        cur = self.levels.get(price)
        if cur is None:
            raise OrderBookError(f"Level not found: price={price}")
        if qty > cur:
            raise OrderBookError(
                f"Qty exceeds available: delete {qty} from level {price} holding {cur}"
            )
        if qty == cur:
            del self.levels[price]
            if price == self.best:
                self._rescan()
        else:
            self.levels[price] = cur - qty

    def set_level(self, price: int, qty: int) -> None:
        cur = self.levels.get(price)
        if qty == 0:
            if cur is not None:
                del self.levels[price]
                if price == self.best:
                    self._rescan()
        else:
            if cur is None:
                self._maybe_promote(price)
            self.levels[price] = qty


# Fold block budget (bytes of scratch snapshot array per block): the fold
# runs in blocks of `_FOLD_BLOCK_BYTES // (32 * n)` output columns so the
# (4n, block+1) int64 emit/forward-fill working set stays ~2.5 MB
# (L2/L3-resident) at ANY depth — one 65536-row Arrow batch at the n=20
# ceiling made it 42 MB and the deep fold measured best-of 103k rows/s
# purely on cache misses vs 232k blocked (r11; perfbench's Spark-free
# `kernel.rows_per_s` replay now tracks kernel throughput).
# Sized in bytes, not columns: a fixed column count would add per-block
# overhead at shallow n where the array was already cache-resident
# (measured 23% off the n=1 fast path at 4096 columns).
_FOLD_BLOCK_BYTES = 2_621_440


def _fold_arrays(
    variant: str,
    n: int,
    seq: np.ndarray,
    is_bid: Sequence,
    price: Sequence,
    qty: Sequence,
    prev_price: Sequence | None,
    prev_qty: Sequence | None,
    bids: "_Side | _SideBest | None" = None,
    asks: "_Side | _SideBest | None" = None,
) -> "tuple[np.ndarray, np.ndarray, _Side | _SideBest, _Side | _SideBest]":
    """Sequential fold over one book; returns (values, missing_mask, bids,
    asks) with the arrays shaped (4n, m). Port of the event loop at
    ref: calculate_bbo.rs:96-110. Passing pre-populated sides resumes a book
    mid-stream (the Structured Streaming state hand-off).

    Emit strategy: an event strictly below its side's pre-event nth-best price
    that doesn't grow/shrink the book past n levels CANNOT change that side's
    top-N, and the other side never changes — so snapshots are written only on
    top-N-changing rows and forward-filled vectorized afterwards (the numpy
    analog of the reference's incremental top-N maintenance,
    ref: top_n_levels.rs:59-63, which equally skips below-worst updates)."""
    _check_n(n)
    m = len(price)
    fast = n == 1
    if fast:
        bids = _SideBest.from_side(bids, hi=True)
        asks = _SideBest.from_side(asks, hi=False)
    else:
        bids = bids if bids is not None else _Side()
        asks = asks if asks is not None else _Side()

    # Null-scan hoisted out of the event loop: `None in list` is a C-level
    # membership test, so the common all-valid stream pays O(m) in C once
    # instead of three `is None` checks per row. Rows before the first null
    # fold normally (identical to the old per-row check — the raise aborts
    # the task either way, with the same first-null seq in the message).
    stop = m
    for _lst in (is_bid, price, qty):
        if None in _lst:
            _i = _lst.index(None)
            if _i < stop:
                stop = _i

    out_final = np.empty((4 * n, m), dtype=np.int64)
    mask_final = np.empty((4 * n, m), dtype=bool)
    bid_rows = [4 * i + j for i in range(n) for j in (0, 1)]
    ask_rows = [4 * i + j for i in range(n) for j in (2, 3)]
    lev = np.arange(n)[:, None]

    # The fold runs in depth-scaled blocks (see _FOLD_BLOCK_BYTES) so the
    # scratch snapshot array stays cache-resident at any n. Block
    # boundaries are EXACT by the emit invariant: the live book's top-N
    # always equals the last emitted column, so each block resumes from
    # (bids, asks) state like any Arrow-batch/micro-batch hand-off, and its
    # column 0 re-baselines the forward fill.
    block = max(1, _FOLD_BLOCK_BYTES // (32 * n))
    # Scratch buffers are allocated ONCE per call and re-zeroed per block
    # (a ~2.5 MB memset): some hosts stall for seconds on page faults in
    # fresh large mmaps (a 3.1 s outlier was measured on a bare 42 MB
    # alloc+touch), so fewer fresh allocations both bound that exposure
    # and skip the per-block mmap/munmap churn.
    width = (block if block < stop else stop) + 1
    scratch = np.zeros((4 * n, width), dtype=np.int64, order="F") if stop else None
    nbuf_b = np.empty(width, dtype=np.int64) if stop else None
    nbuf_a = np.empty(width, dtype=np.int64) if stop else None
    r0 = 0
    while r0 < stop:
        r1 = r0 + block
        if r1 > stop:
            r1 = stop
        mb = r1 - r0
        # Column 0 holds the block baseline (resumed/carried state, else
        # nulls); data rows live at columns 1..mb, forward-filled left.
        # order='F': one emitted snapshot column is contiguous, so a deep
        # emit touches 1-2 cache lines instead of 4n array-rows.
        out = scratch[:, :mb + 1]
        if r0:
            out[:] = 0
        # Per-column emitted level count per side; -1 = column not written.
        # The null mask is DERIVED from these after the fold (level index
        # >= nlev), replacing 4n per-emit mask writes with four broadcasts.
        bid_nlev = nbuf_b[:mb + 1]
        ask_nlev = nbuf_a[:mb + 1]
        bid_nlev.fill(-1)
        ask_nlev.fill(-1)
        bid_nlev[0] = ask_nlev[0] = 0

        if fast:
            def emit_bid(c: int) -> None:
                best = bids.best
                if best is None:
                    bid_nlev[c] = 0
                else:
                    out[0, c] = best
                    out[1, c] = bids.levels[best]
                    bid_nlev[c] = 1

            def emit_ask(c: int) -> None:
                best = asks.best
                if best is None:
                    ask_nlev[c] = 0
                else:
                    out[2, c] = best
                    out[3, c] = asks.levels[best]
                    ask_nlev[c] = 1
        elif n <= 4:
            # Shallow books: 4k scalar stores beat the slice path's
            # list->array conversions (measured 16% on the n=2 folds).
            def emit_bid(c: int) -> None:
                bp, bl = bids.prices, bids.levels
                nb = len(bp)
                k = nb if nb < n else n
                base = 0
                for px in bp[nb - k:][::-1]:
                    out[base, c] = px
                    out[base + 1, c] = bl[px]
                    base += 4
                bid_nlev[c] = k

            def emit_ask(c: int) -> None:
                ap, al = asks.prices, asks.levels
                na = len(ap)
                k = na if na < n else n
                base = 2
                for px in ap[:k]:  # best ask = least price
                    out[base, c] = px
                    out[base + 1, c] = al[px]
                    base += 4
                ask_nlev[c] = k
        else:
            # Strided-slice writes into the contiguous column: the k best
            # prices/qtys land with TWO numpy assignments instead of a
            # Python loop of 4k scalar stores (best bid = greatest price,
            # so the bid top-k is the tail of the ascending list reversed).
            def emit_bid(c: int) -> None:
                bp, bl = bids.prices, bids.levels
                nb = len(bp)
                k = nb if nb < n else n
                if k:
                    top = bp[nb - k:][::-1]
                    col = out[:, c]
                    col[0:4 * k:4] = top
                    col[1:4 * k:4] = [bl[px] for px in top]
                bid_nlev[c] = k

            def emit_ask(c: int) -> None:
                ap, al = asks.prices, asks.levels
                na = len(ap)
                k = na if na < n else n
                if k:
                    top = ap[:k]  # best ask = least price
                    col = out[:, c]
                    col[2:4 * k + 2:4] = top
                    col[3:4 * k + 2:4] = [al[px] for px in top]
                ask_nlev[c] = k

        if bids.levels:
            emit_bid(0)
        if asks.levels:
            emit_ask(0)

        for i in range(mb):
            r = r0 + i
            b = is_bid[r]
            p = price[r]
            q = qty[r]
            side = bids if b else asks
        # Pre-event threshold: the nth-best price (side-aware). Any op whose
        # touched prices are all strictly worse cannot alter the top-N.
            if fast:
                thr = side.best
                if thr is None:
                    unchanged = False  # book may grow/shrink through the boundary
                else:
                    unchanged = p < thr if b else p > thr
            else:
                sp = side.prices
                ln = len(sp)
                if ln < n:
                    unchanged = False  # book may grow/shrink through the boundary
                elif b:
                    thr = sp[ln - n]
                    unchanged = p < thr
                else:
                    thr = sp[n - 1]
                    unchanged = p > thr

            if variant == "updates":
                side.set_level(p, q)
            elif variant == "mutations":
                if q > 0:
                    side.add(p, q)
                elif q < 0:
                    side.delete(p, -q)
                # q == 0: no-op (ref: update.rs:120) — still emits a row (ffill)
            else:  # modify — 9-way decision table, ref: update.rs:132-162
                pp = prev_price[r]  # type: ignore[index]
                pq = prev_qty[r]  # type: ignore[index]
                if pp is None and pq is None:
                    if q > 0:
                        side.add(p, q)
                    elif q < 0:
                        side.delete(p, -q)
                elif pp is not None and pq is None:
                    raise OrderBookError(
                        f"prev_price without prev_qty at seq={seq[r]} (ref: update.rs:159)"
                    )
                elif q < 0:
                    raise OrderBookError(
                        f"negative qty with non-null prev at seq={seq[r]} (ref: update.rs:158)"
                    )
                elif pp is not None:  # full modify: move prev_qty@prev_price -> qty@price
                    if unchanged:  # both touched prices must be below threshold
                        unchanged = (pp < thr) if b else (pp > thr)
                    if q == 0:
                        side.delete(pp, pq)  # ref: update.rs:155-157
                    else:
                        side.delete(pp, pq)  # ref: order_book.rs:44-55
                        side.add(p, q)
                else:  # prev_qty only
                    if q == 0:
                        side.delete(p, pq)  # ref: update.rs:152-154
                    else:
                        side.delete(p, pq - q)  # qty-only modify, ref: update.rs:148-150

            if not unchanged:
                if b:
                    emit_bid(i + 1)
                else:
                    emit_ask(i + 1)
        # Vectorized forward-fill per side from the last written column
        # (ref: output.rs:62-120 writes every row; equivalent post-fill
        # here), then the block lands in the C-order result (row-contiguous
        # for the per-snapshot-column consumers).
        cols = np.arange(mb + 1)
        bid_idx = np.maximum.accumulate(np.where(bid_nlev >= 0, cols, 0))
        ask_idx = np.maximum.accumulate(np.where(ask_nlev >= 0, cols, 0))
        out[bid_rows] = out[np.ix_(bid_rows, bid_idx)]
        out[ask_rows] = out[np.ix_(ask_rows, ask_idx)]
        out_final[:, r0:r1] = out[:, 1:]
        # Mask built in four broadcasts from the forward-filled level counts
        # (True = null): level index i is null wherever i >= that column's
        # emitted nlev.
        bm = lev >= bid_nlev[bid_idx][None, 1:]
        am = lev >= ask_nlev[ask_idx][None, 1:]
        mask_final[0::4, r0:r1] = bm
        mask_final[1::4, r0:r1] = bm
        mask_final[2::4, r0:r1] = am
        mask_final[3::4, r0:r1] = am
        r0 = r1

    if stop < m:
        raise OrderBookError(
            f"null is_bid/price/qty at seq={seq[stop]} (ref: update.rs:8-16)"
        )
    return out_final, mask_final, bids, asks


def _side_from_lists(prices: "Sequence[int] | None", qtys: "Sequence[int] | None") -> _Side:
    """Rebuild a ``_Side`` from parallel price/qty lists (the streaming
    operator's state-store shape)."""
    side = _Side()
    # `prices` may be a list (streaming state store) or a numpy array (Arrow
    # deserialization of an array column) — avoid ambiguous truthiness.
    if prices is not None and len(prices):
        side.prices = sorted(int(p) for p in prices)
        side.levels = {
            int(p): int(q) for p, q in zip(prices, qtys if qtys is not None else [])
        }
    return side


def _side_to_lists(side: "_Side | _SideBest") -> tuple[list, list]:
    prices = side.prices if isinstance(side, _Side) else sorted(side.levels)
    return list(prices), [side.levels[p] for p in prices]


def _check_exact(s: pd.Series) -> None:
    """Arrow hands a nullable integral column that holds a null to pandas as
    float64, which holds integers exactly only below 2**53: a larger value
    has already been rounded, so raise rather than fold a neighbouring
    level, merge two books or emit a rounded pass-through value."""
    if s.dtype.kind == "f" and (np.abs(s.to_numpy()) >= 2.0 ** 53).any():
        raise OrderBookError(
            f"column {s.name!r} arrived as float64 (it holds a null) with a "
            "value of magnitude >= 2**53, which float64 cannot hold exactly"
        )


def _as_list(s: pd.Series) -> list:
    """Column -> python list with None for nulls, decoded in numpy."""
    isna = s.isna().to_numpy()
    if isinstance(s.dtype, np.dtype) and s.dtype.kind == "f":
        _check_exact(s)
        vals = np.where(isna, 0, s.to_numpy()).astype(np.int64).astype(object)
        vals[isna] = None
        return vals.tolist()
    out = s.tolist()
    for i in np.flatnonzero(isna).tolist():
        out[i] = None
    return out


def _snapshot_frame(
    base_cols: dict, out: np.ndarray, mask: np.ndarray, snap_cols: list[str]
) -> pd.DataFrame:
    """``base_cols`` plus the 4n snapshot columns as nullable ``IntegerArray``
    (``mask`` True = null), built in ONE constructor call: 4n sequential
    ``res[c] = ...`` inserts cost ~38 ms per batch at n=20 in pandas
    block-manager churn vs ~2 ms for one dict build (r11 measurement).
    Shared by the batch fold and the streaming fold."""
    data = dict(base_cols)
    for j, c in enumerate(snap_cols):
        data[c] = pd.arrays.IntegerArray(out[j], mask[j])
    return pd.DataFrame(data, copy=False)


def _normalize_expr_args(
    df: DataFrame, args: dict[str, "str | Column | None"]
) -> tuple[DataFrame, dict[str, str | None], list[str]]:
    """Accept ``str | Column`` per input (the reference's IntoExpr contract,
    ref: _utils.py:15-52): Column expressions are materialized as temp
    columns, dropped again from the operator's output."""
    out: dict[str, str | None] = {}
    temps: list[str] = []
    for name, val in args.items():
        if val is None or isinstance(val, str):
            out[name] = val
        else:
            tmp = f"__expr_{name}"
            df = df.withColumn(tmp, val)
            out[name] = tmp
            temps.append(tmp)
    return df, out, temps


def _validate_tick_dtype(dtype, col: str):
    """Accept the reference generic core's PriceLike surface
    (ref: order_book_core/src/price_level.rs:8-44): any integral tick, plus
    integer-valued decimals that fit i64. Floats must be pre-scaled by the
    caller (the reference README's own recipe) — a silent int() truncation
    here would corrupt books, so it raises instead."""
    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        return
    if isinstance(dtype, DecimalType) and dtype.scale == 0 and dtype.precision <= 18:
        return
    raise OrderBookError(
        f"unsupported tick dtype {dtype.simpleString()} for column {col!r}: "
        "use an integer type or DECIMAL(<=18, 0); scale float ticks to "
        "integers first (ref: README.md:131-162 conversion recipe)"
    )


def _long_ticks(
    df: DataFrame, ticks: dict[str, str | None], n: int
) -> tuple[DataFrame, dict[str, str | None], list[str], Callable[[DataFrame], DataFrame]]:
    """The tick contract both book folds share (ref generic core,
    price_level.rs:8-44). ``ticks`` maps price, qty, prev_price and
    prev_qty to their columns (None when absent). Each is validated, and a
    non-long one is cast to long through a ``__tick_*`` temp column, since
    the fold reads ticks as Python ints. Returns the frame, the columns the
    fold reads, the temp columns and ``restore``, which casts the n-deep
    snapshot PRICE columns of a fold's output back to the input price
    dtype. Qty snapshots stay long: mutations aggregate qtys, and a sum
    must not inherit a narrow input type's overflow (the same promotion
    Polars applies to sums). Long ticks add nothing to the plan."""
    price_dt = df.schema[ticks["price"]].dataType
    read, temps = dict(ticks), []
    for logical, col in ticks.items():
        if col is None:
            continue
        dt = df.schema[col].dataType
        _validate_tick_dtype(dt, col)
        if not isinstance(dt, LongType):
            read[logical] = f"__tick_{logical}"
            df = df.withColumn(read[logical], F.col(col).cast("long"))
            temps.append(read[logical])

    def restore(result: DataFrame) -> DataFrame:
        if isinstance(price_dt, LongType):
            return result
        return result.withColumns(
            {c: F.col(c).cast(price_dt) for c in snapshot_columns(n) if "_price_" in c}
        )

    return df, read, temps, restore


def _apply_fold(
    df: DataFrame,
    variant: str,
    price: str,
    qty: str,
    is_bid: str,
    seq: str,
    by: Sequence[str] | None,
    n: int,
    prev_price: str | None = None,
    prev_qty: str | None = None,
    output_struct: str | None = None,
) -> DataFrame:
    _check_n(n)
    df, named, temps = _normalize_expr_args(
        df,
        {"price": price, "qty": qty, "is_bid": is_bid, "seq": seq,
         "prev_price": prev_price, "prev_qty": prev_qty},
    )
    is_bid, seq = named["is_bid"], named["seq"]
    snap_cols = snapshot_columns(n)
    ticks = ("price", "qty", "prev_price", "prev_qty")
    df, read, tick_temps, restore_prices = _long_ticks(
        df, {k: named[k] for k in ticks}, n
    )
    temps += tick_temps
    price, qty, prev_price, prev_qty = (read[k] for k in ticks)

    keys = list(by or ())
    out_fields = [f for f in df.schema.fields if f.name not in temps]
    keep = [f.name for f in out_fields]
    # Long keys and pass-through columns round like ticks once they reach
    # pandas as float64 (_as_list checks the ticks before its int64 cast).
    ticks = (price, qty, prev_price, prev_qty)
    exact = [f.name for f in out_fields
             if isinstance(f.dataType, LongType) and f.name not in ticks]
    schema = StructType(
        out_fields + [StructField(c, LongType(), True) for c in snap_cols]
    )

    def fold_stream(batches):
        cur: object = object()  # sentinel unequal to any key tuple
        bids = asks = None
        for pdf in batches:
            m = len(pdf)
            if not m:
                continue
            for c in exact:
                _check_exact(pdf[c])
            # Decode the batch once; each run of equal book keys then folds
            # on slices of the decoded lists.
            seqs = pdf[seq].to_numpy()
            cols = [_as_list(pdf[c]) if c else None
                    for c in (is_bid, price, qty, prev_price, prev_qty)]
            kv = pdf[keys]
            prev = kv.shift()
            # null-safe "key changed" per row; the first row always opens a run
            changed = (kv.ne(prev) & ~(kv.isna() & prev.isna())).any(axis=1)
            changed = changed.to_numpy(copy=True)
            changed[0] = True
            starts = np.flatnonzero(changed).tolist()
            # one key row per run, empty for an unkeyed fold (no key columns)
            run_keys = kv.iloc[starts].to_numpy(dtype=object).tolist()
            outs, masks = [], []
            for a, b, kt in zip(starts, starts[1:] + [m], run_keys):
                kt = tuple(None if pd.isna(v) else v for v in kt)
                if kt != cur:
                    cur, bids, asks = kt, None, None
                out, mask, bids, asks = _fold_arrays(
                    variant, n, seqs[a:b],
                    *[c[a:b] if c is not None else None for c in cols],
                    bids=bids, asks=asks,
                )
                outs.append(out)
                masks.append(mask)
            if len(outs) == 1:
                out, mask = outs[0], masks[0]
            else:
                out = np.concatenate(outs, axis=1)
                mask = np.concatenate(masks, axis=1)
            yield _snapshot_frame({k: pdf[k] for k in keep}, out, mask, snap_cols)

    # One plan for every fold. The exchange puts each book in one partition
    # (an unkeyed fold is the zero-key case: one book, so one partition and
    # one Python task; keyed folds exchange without a count, so AQE
    # coalesces them), the sort lands below the Python node, and mapInPandas
    # consumes the partition in that order: each book's events arrive once,
    # in seq order, possibly split across Arrow batches, and a key change
    # resets the book. Null keys hash like any value and compare null-safely
    # above, so a null key is a book of its own, as in groupBy. Per task:
    # one Arrow batch (spark.sql.execution.arrow.maxRecordsPerBatch, 65,536
    # in get_spark) plus the live book.
    key_cols = [F.col(k) for k in keys]
    width = () if keys else (1,)
    result = (
        df.repartition(*width, *key_cols)
        .sortWithinPartitions(*key_cols, F.col(seq))
        .mapInPandas(fold_stream, schema)
    )

    result = restore_prices(result)
    if output_struct:
        result = result.select(*keep, F.struct(*snap_cols).alias(output_struct))
    return result


def top_n_levels_from_price_updates(
    df: DataFrame,
    price: "str | Column" = "price",
    qty: "str | Column" = "qty",
    is_bid: "str | Column" = "is_bid",
    *,
    seq: str = "seq",
    by: Sequence[str] | None = None,
    n: int = 1,
    output_struct: str | None = None,
) -> DataFrame:
    """Fold snapshot-set events: qty replaces the level, qty=0 deletes it.

    Parity: ref: polars_order_book/polars_order_book/__init__.py:157-210 and
    ref: polars_order_book/src/calculate_bbo.rs:127-170. Returns ``df`` plus
    4·n long columns ``bid_price_i/bid_qty_i/ask_price_i/ask_qty_i`` (or one
    struct column when ``output_struct`` is set — the Polars shape, which users
    there immediately ``unnest``; flattened is the Spark idiom).

    ``seq`` orders events within a book; ``by`` names the book key columns
    (e.g. ``["product_id", "reset_count"]``, ref: README.md:184-216).

    Plan: one exchange on the book keys, an in-partition (keys, seq) sort and
    one ``mapInPandas`` that carries each book across Arrow batches, so a
    task holds one batch plus the live book. Without ``by`` the whole frame
    is one book, folded in one task.
    """
    return _apply_fold(df, "updates", price, qty, is_bid, seq, by, n,
                       output_struct=output_struct)


def top_n_levels_from_price_mutations(
    df: DataFrame,
    price: "str | Column" = "price",
    qty: "str | Column" = "qty",
    is_bid: "str | Column" = "is_bid",
    *,
    seq: str = "seq",
    by: Sequence[str] | None = None,
    n: int = 1,
    output_struct: str | None = None,
) -> DataFrame:
    """Fold signed-delta events: qty>0 adds, qty<0 deletes, 0 no-op.

    Parity: ref: __init__.py:101-154, ref: calculate_bbo.rs:172-215,
    ref: update.rs:113-123. Errors on delete-from-missing-level and over-delete
    exactly like the reference (ref: book_side.rs:91-112). Same plan as
    ``top_n_levels_from_price_updates``.
    """
    return _apply_fold(df, "mutations", price, qty, is_bid, seq, by, n,
                       output_struct=output_struct)


def top_n_levels_from_price_mutations_with_modify(
    df: DataFrame,
    price: "str | Column" = "price",
    qty: "str | Column" = "qty",
    is_bid: "str | Column" = "is_bid",
    prev_price: "str | Column | None" = None,
    prev_qty: "str | Column | None" = None,
    *,
    seq: "str | Column" = "seq",
    by: Sequence[str] | None = None,
    n: int = 1,
    output_struct: str | None = None,
) -> DataFrame:
    """Mutations plus atomic order moves (delete prev_qty@prev_price then add
    qty@price in one event).

    Parity: ref: __init__.py:22-98, ref: calculate_bbo.rs:217-268, decision
    table ref: update.rs:132-162. Passing exactly one of ``prev_price`` /
    ``prev_qty`` raises ValueError before execution (ref: __init__.py:84-90).
    Same plan as ``top_n_levels_from_price_updates``.
    """
    if (prev_price is None) != (prev_qty is None):
        raise ValueError(
            "prev_price and prev_qty must be passed together or not at all "
            "(ref: __init__.py:84-90)"
        )
    if prev_price is None:
        return _apply_fold(df, "mutations", price, qty, is_bid, seq, by, n,
                           output_struct=output_struct)
    return _apply_fold(df, "modify", price, qty, is_bid, seq, by, n,
                       prev_price=prev_price, prev_qty=prev_qty,
                       output_struct=output_struct)
