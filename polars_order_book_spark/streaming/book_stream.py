"""Structured Streaming continuous order book.

The reference has NO streaming mode — it assumes a pre-sorted batch frame
(ref: README.md:182). This module is the additive Spark-native extension
planned in SURVEY.md §7 PR5: a continuous top-N book over an unbounded event
stream, keyed by book (e.g. ``product_id``), with the book state held in
Spark's managed per-key state store (``applyInPandasWithState``).

Semantics: identical to the batch operators in ``operators.order_book`` —
both paths call the same ``_fold_arrays`` event loop, with the streaming path
persisting the two ``_Side`` structures into the state store between
micro-batches. One fold function serves every stream: each book buffers its
events in state and folds them in seq order once seq ≤ wm − h, where wm is
the max seq seen and h the ``reorder_horizon``. The default horizon is 0,
the in-order contract: every event folds in the micro-batch that brings it
(within a batch we sort), and a seq at or below the last folded one, or a
seq repeated, fails the query. This mirrors the reference's own "always sort
your data" contract and is the documented delta from a watermark/late-data
design; a horizon h > 0 admits events up to h seq units late.

Scale notes (100 TB design): state per book is O(live price levels + h), a
few KB; the state store shards by key hash across executors, so throughput
scales with the number of books exactly like the batch path. Checkpointing
gives exactly-once output; the fold is deterministic so replays are safe.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from polars_order_book_spark.operators.order_book import (
    OrderBookError,
    _Side,
    _as_list,
    _check_n,
    _fold_arrays,
    _register_self_by_value,
    _side_from_lists,
    _side_to_lists,
    _snapshot_frame,
    snapshot_columns,
)

# Ship this module inside the UDF closure too (the fold closure references
# module-level helpers here); see operators.order_book for rationale.
_register_self_by_value(__name__)

# Per book: the two sides as parallel price/qty arrays, the pending events
# (parallel arrays in seq order; is_bid as 0/1; the prev pair empty outside
# `modify`), the seq watermark `wm` (max seq seen) and `done` (the last seq
# folded).
_STATE_SCHEMA = StructType(
    [StructField(f, ArrayType(LongType()), True) for f in (
        "bid_prices", "bid_qtys", "ask_prices", "ask_qtys",
        "pend_seq", "pend_is_bid", "pend_price", "pend_qty",
        "pend_prev_price", "pend_prev_qty",
    )]
    + [StructField("wm", LongType(), True), StructField("done", LongType(), True)]
)


def _book_fold(
    variant: str,
    n: int,
    keys: Sequence[str],
    seq: str,
    cols: Sequence[str | None],
    horizon: int,
):
    """The ``applyInPandasWithState`` function of ``top_n_levels_stream``.
    ``cols`` names the is_bid, price, qty, prev_price and prev_qty columns
    (the prev pair None outside ``modify``)."""
    snap_cols = snapshot_columns(n)

    def fold_batches(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bp, bq, ap, aq, *pend, wm, done = state.get
            bids, asks = _side_from_lists(bp, bq), _side_from_lists(ap, aq)
        else:
            bids, asks = _Side(), _Side()
            pend, wm, done = [[]] * 6, None, None

        # applyInPandasWithState delivers one group's micro-batch as MULTIPLE
        # Arrow chunks in arbitrary post-shuffle order, so gather them all
        # and order the whole batch with the pending events before folding.
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        new = pdf[seq].to_numpy(dtype=np.int64)
        # Arrival contract. `done` stays in the floor: a restart with a
        # larger horizon lowers wm − h below it, and a replayed seq that
        # was already folded must not fold again.
        if wm is not None:
            floor = wm - horizon if done is None else max(done, wm - horizon)
            late = new[new <= floor]
            if late.size:
                raise OrderBookError(
                    f"event seq {late.min()} arrived out of order: the book "
                    f"folded through seq {done} and its watermark {wm} "
                    f"minus the reorder horizon {horizon} is {wm - horizon}"
                )
        seqs = np.concatenate([np.asarray(pend[0], dtype=np.int64), new])
        order = np.argsort(seqs, kind="stable")
        seqs = seqs[order]
        # A duplicate (in the batch, or of a pending seq) would fold twice,
        # applying its qty delta twice: fail loudly instead.
        dup = seqs[1:] == seqs[:-1]
        if dup.any():
            raise OrderBookError(
                f"duplicate event seq {seqs[1:][dup][0]} — seqs must be "
                "unique per book"
            )
        wm = int(new.max()) if wm is None else max(wm, int(new.max()))
        vals = [
            np.array(p + _as_list(pdf[c]), dtype=object)[order] if c else None
            for p, c in zip(pend[1:], cols)
        ]

        ready = int(np.searchsorted(seqs, wm - horizon, side="right"))
        if ready:
            out, mask, bids, asks = _fold_arrays(
                variant, n, seqs[:ready],
                *[v[:ready].tolist() if v is not None else None for v in vals],
                bids=bids, asks=asks,
            )
            done = int(seqs[ready - 1])
            # Key columns come from the group key: emitted rows can come
            # from earlier micro-batches.
            base = {k: [kv] * ready for k, kv in zip(keys, key)}
            base[seq] = seqs[:ready]
            yield _snapshot_frame(base, out, mask, snap_cols)

        pend = [seqs[ready:].tolist()] + [
            [] if v is None else v[ready:].tolist() for v in vals
        ]
        pend[1] = [None if b is None else int(b) for b in pend[1]]
        state.update((*_side_to_lists(bids), *_side_to_lists(asks), *pend, wm, done))

    return fold_batches


def top_n_levels_stream(
    df: DataFrame,
    variant: str = "mutations",
    price: str = "price",
    qty: str = "qty",
    is_bid: str = "is_bid",
    prev_price: str | None = None,
    prev_qty: str | None = None,
    *,
    seq: str = "seq",
    by: Sequence[str] = ("product_id",),
    n: int = 1,
    reorder_horizon: int | None = None,
) -> DataFrame:
    """Continuous top-N book over a streaming DataFrame.

    Returns a streaming DataFrame with the book-key columns, ``seq``, and the
    4·n snapshot columns — one output row per input event, exactly the batch
    operator's contract, in ``update`` output mode.

    ``variant`` ∈ {'updates', 'mutations', 'modify'} with the semantics of the
    matching batch operator (ref: update.rs:101-162). ``by`` must be non-empty:
    streaming state is keyed, and a single global book would serialize the
    stream through one task anyway (the reference's own constraint,
    ref: README.md:184-197).

    ``reorder_horizon`` h (None means 0): each book buffers events in its
    state and folds/emits an event only once its seq ≤ wm − h, where wm is
    the max seq seen for that book (a seq-domain watermark). The arrival
    contract: every event's seq must be > wm − h at arrival (late by at most
    ``h`` seq units) and above the book's last folded seq, and seqs are
    unique per book; a violation fails the query loudly. At h = 0 (the
    default) events must arrive in ``seq`` order ACROSS micro-batches, and
    each micro-batch folds and emits all of its events. With h > 0, emission
    is delayed by up to ``h`` seq units behind the stream head, state grows
    by the O(h) event buffer per book, and the buffer tail (within ``h`` of
    wm) stays pending until later events advance the watermark.
    """
    _check_n(n)
    if variant not in ("updates", "mutations", "modify"):
        raise ValueError(f"unknown variant: {variant}")
    if variant == "modify" and (prev_price is None or prev_qty is None):
        raise ValueError("modify variant requires prev_price and prev_qty")
    if not by:
        raise ValueError("streaming book requires at least one key column in `by`")
    horizon = reorder_horizon or 0
    if horizon < 0:
        raise ValueError("reorder_horizon must be >= 0")

    keys = list(by)
    out_schema = StructType(
        [df.schema[k] for k in keys]
        + [StructField(seq, LongType(), False)]
        + [StructField(c, LongType(), True) for c in snapshot_columns(n)]
    )
    fold = _book_fold(
        variant, n, keys, seq, (is_bid, price, qty, prev_price, prev_qty), horizon
    )
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
