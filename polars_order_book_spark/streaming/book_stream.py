"""Structured Streaming continuous order book.

The reference has NO streaming mode — it assumes a pre-sorted batch frame
(ref: README.md:182). This module is the additive Spark-native extension
planned in SURVEY.md §7 PR5: a continuous top-N book over an unbounded event
stream, keyed by book (e.g. ``product_id``), with the book state held in
Spark's managed per-key state store (``applyInPandasWithState``).

Semantics: identical to the batch operators in ``operators.order_book`` —
both paths call the same ``_fold_arrays`` event loop, with the streaming path
persisting the two ``_Side`` structures into the state store between
micro-batches. Events must arrive in ``seq`` order ACROSS micro-batches for a
given book (within a batch we sort), and a batch that breaks this (a seq at or
below the last folded one, or a seq repeated) fails the query; this mirrors
the reference's own "always sort your data" contract and is the documented
delta from a watermark/late-data design (``reorder_horizon`` buffers and
reorders instead).

Scale notes (100 TB design): state per book is O(live price levels), a few KB;
the state store shards by key hash across executors, so throughput scales with
the number of books exactly like the batch path. Checkpointing gives exactly-
once output; the fold is deterministic so replays are safe.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from polars_order_book_spark.operators.order_book import (
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

_SIDE_FIELDS = [
    StructField("bid_prices", ArrayType(LongType()), True),
    StructField("bid_qtys", ArrayType(LongType()), True),
    StructField("ask_prices", ArrayType(LongType()), True),
    StructField("ask_qtys", ArrayType(LongType()), True),
]
# Fold high-water: the last seq folded into the book.
_DONE_FIELD = StructField("done", LongType(), True)

_STATE_SCHEMA = StructType(_SIDE_FIELDS + [_DONE_FIELD])

# Reorder mode adds an in-state event buffer (parallel arrays) plus the seq
# watermark (`wm` = max seq ever seen) ahead of `done`.
_REORDER_STATE_SCHEMA = StructType(
    _SIDE_FIELDS
    + [
        StructField("pend_seq", ArrayType(LongType()), True),
        StructField("pend_is_bid", ArrayType(LongType()), True),
        StructField("pend_price", ArrayType(LongType()), True),
        StructField("pend_qty", ArrayType(LongType()), True),
        StructField("pend_prev_price", ArrayType(LongType()), True),
        StructField("pend_prev_qty", ArrayType(LongType()), True),
        StructField("wm", LongType(), True),
        _DONE_FIELD,
    ]
)


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

    ``reorder_horizon``: opt-in late-data mode. By default events must arrive
    in ``seq`` order ACROSS micro-batches (the documented delta from a
    production stream); a seq at or below the book's last folded seq, or a
    seq repeated within a micro-batch, fails the query. With a horizon
    ``h``, each book buffers events in its state and folds/emits an event
    only once it is safe — its seq ≤ wm − h, where wm is the max seq seen
    for that book (a seq-domain watermark). The
    arrival contract becomes: every event's seq must be > wm − h at arrival
    (late by at most ``h`` seq units); a later event fails the query loudly,
    like every other contract violation. Emission is therefore delayed by up
    to ``h`` seq units behind the stream head, state grows by the O(h) event
    buffer per book, and the buffer tail (within ``h`` of wm) stays pending
    until later events advance the watermark.
    """
    _check_n(n)
    if variant not in ("updates", "mutations", "modify"):
        raise ValueError(f"unknown variant: {variant}")
    if variant == "modify" and (prev_price is None or prev_qty is None):
        raise ValueError("modify variant requires prev_price and prev_qty")
    if not by:
        raise ValueError("streaming book requires at least one key column in `by`")
    if reorder_horizon is not None and reorder_horizon < 0:
        raise ValueError("reorder_horizon must be >= 0")

    key_fields = [df.schema[k] for k in by]
    out_schema = StructType(
        list(key_fields)
        + [StructField(seq, LongType(), False)]
        + [StructField(c, LongType(), True) for c in snapshot_columns(n)]
    )
    snap_cols = snapshot_columns(n)
    keys = list(by)

    def fold_batches_reorder(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        from polars_order_book_spark.operators.order_book import OrderBookError

        horizon = reorder_horizon
        if state.exists:
            (bp, bq, ap, aq, p_seq, p_bid, p_price, p_qty, p_pp, p_pq,
             wm, done) = state.get
            bids = _side_from_lists(bp, bq)
            asks = _side_from_lists(ap, aq)
            pend = [list(x) if x is not None else [] for x in
                    (p_seq, p_bid, p_price, p_qty, p_pp, p_pq)]
        else:
            bids, asks = _Side(), _Side()
            pend = [[], [], [], [], [], []]
            wm, done = None, None

        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            new_seq = [int(s) for s in pdf[seq].tolist()]
            if new_seq:
                arrival_floor = None if wm is None else wm - horizon
                too_late = [s for s in new_seq if
                            (done is not None and s <= done)
                            or (arrival_floor is not None and s <= arrival_floor)]
                if too_late:
                    raise OrderBookError(
                        f"event seq {min(too_late)} arrived later than the "
                        f"reorder horizon {horizon} (watermark {wm})"
                    )
                # Duplicate seqs are a contract violation and must fail
                # LOUDLY: a copy of a still-pending seq would pass the
                # too-late check and be folded twice, silently corrupting
                # the book (qty deltas applied twice).
                seen = set(pend[0])
                dups = []
                for s in new_seq:
                    if s in seen:
                        dups.append(s)
                    seen.add(s)
                if dups:
                    raise OrderBookError(
                        f"duplicate event seq {min(dups)} within the reorder "
                        "horizon — seqs must be unique per book"
                    )
                pend[0] += new_seq
                pend[1] += [None if b is None else int(bool(b)) for b in _as_list(pdf[is_bid])]
                pend[2] += _as_list(pdf[price])
                pend[3] += _as_list(pdf[qty])
                pend[4] += _as_list(pdf[prev_price]) if prev_price else [None] * len(new_seq)
                pend[5] += _as_list(pdf[prev_qty]) if prev_qty else [None] * len(new_seq)
                mx = max(new_seq)
                wm = mx if wm is None else max(wm, mx)

        if pend[0] and wm is not None:
            bound = wm - horizon
            order = np.argsort(np.asarray(pend[0]), kind="stable")
            ready = [i for i in order if pend[0][i] <= bound]
            if ready:
                out, mask, bids, asks = _fold_arrays(
                    variant,
                    n,
                    np.asarray([pend[0][i] for i in ready]),
                    [None if pend[1][i] is None else bool(pend[1][i]) for i in ready],
                    [pend[2][i] for i in ready],
                    [pend[3][i] for i in ready],
                    [pend[4][i] for i in ready] if prev_price else None,
                    [pend[5][i] for i in ready] if prev_qty else None,
                    bids=bids,
                    asks=asks,
                )
                base = {k: [kv] * len(ready) for k, kv in zip(keys, key)}
                base[seq] = [pend[0][i] for i in ready]
                res = _snapshot_frame(base, out, mask, snap_cols)
                done = max(pend[0][i] for i in ready) if done is None else max(
                    done, *(pend[0][i] for i in ready)
                )
                keep = sorted(set(range(len(pend[0]))) - set(ready))
                pend = [[col[i] for i in keep] for col in pend]
                yield res

        bp2, bq2 = _side_to_lists(bids)
        ap2, aq2 = _side_to_lists(asks)
        state.update((bp2, bq2, ap2, aq2, *pend, wm, done))

    def fold_batches(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        from polars_order_book_spark.operators.order_book import OrderBookError

        if state.exists:
            bp, bq, ap, aq, done = state.get
            bids = _side_from_lists(bp, bq)
            asks = _side_from_lists(ap, aq)
        else:
            bids, asks, done = _Side(), _Side(), None

        # applyInPandasWithState delivers one group's micro-batch as MULTIPLE
        # Arrow chunks in arbitrary post-shuffle order (chunking kicks in past
        # spark.sql.execution.arrow.maxRecordsPerBatch). Sorting each chunk
        # independently would apply events out of seq order across chunks and
        # corrupt book state — so gather the whole micro-batch, sort once,
        # fold once.
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values(seq, kind="mergesort", ignore_index=True)
            seqs = pdf[seq].to_numpy()
            # In-order contract: a replayed or out-of-order batch would
            # otherwise fold stale events into the book silently.
            if done is not None and seqs[0] <= done:
                raise OrderBookError(
                    f"event seq {seqs[0]} arrived out of order: the book "
                    f"already folded through seq {done}"
                )
            dup = seqs[1:] == seqs[:-1]
            if dup.any():
                raise OrderBookError(
                    f"duplicate event seq {seqs[1:][dup][0]} in one "
                    "micro-batch — seqs must be unique per book"
                )
            out, mask, bids, asks = _fold_arrays(
                variant,
                n,
                seqs,
                _as_list(pdf[is_bid]),
                _as_list(pdf[price]),
                _as_list(pdf[qty]),
                _as_list(pdf[prev_price]) if prev_price else None,
                _as_list(pdf[prev_qty]) if prev_qty else None,
                bids=bids,
                asks=asks,
            )
            done = int(seqs[-1])
            yield _snapshot_frame(
                {**{k: pdf[k] for k in keys}, seq: pdf[seq]}, out, mask, snap_cols
            )

        bp2, bq2 = _side_to_lists(bids)
        ap2, aq2 = _side_to_lists(asks)
        state.update((bp2, bq2, ap2, aq2, done))

    fold_fn = fold_batches if reorder_horizon is None else fold_batches_reorder
    state_schema = _STATE_SCHEMA if reorder_horizon is None else _REORDER_STATE_SCHEMA
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .applyInPandasWithState(
            fold_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
