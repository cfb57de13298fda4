"""Structured Streaming continuous order book.

The reference has NO streaming mode — it assumes a pre-sorted batch frame
(ref: README.md:182). This module is the additive Spark-native extension
planned in SURVEY.md §7 PR5: a continuous top-N book over an unbounded event
stream, keyed by book (e.g. ``product_id``), with the book state held in
Spark's managed per-key state store (``applyInPandasWithState``).

Semantics: identical to the batch operators in ``operators.order_book`` —
both paths call the same ``_fold_arrays`` event loop, with the streaming path
persisting the two ``_Side`` structures into the state store between
micro-batches. The contract is the reference's own "always sort your data":
events must arrive in ``seq`` order ACROSS micro-batches (within a
micro-batch any order, since the fold sorts it), and every micro-batch folds
and emits all of its events. A null seq, a seq at or below the last one the
book folded, or a seq repeated fails the query.

Scale notes (100 TB design): state per book is O(live price levels), a few
KB; the state store shards by key hash across executors, so throughput
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
    _long_ticks,
    _register_self_by_value,
    _side_from_lists,
    _side_to_lists,
    _snapshot_frame,
    _validate_tick_dtype,
    snapshot_columns,
)

# Ship this module inside the UDF closure too (the fold closure references
# module-level helpers here); see operators.order_book for rationale.
_register_self_by_value(__name__)

# Per book: the two sides as parallel price/qty arrays and `done`, the last
# seq folded.
_STATE_SCHEMA = StructType(
    [StructField(f, ArrayType(LongType()), True)
     for f in ("bid_prices", "bid_qtys", "ask_prices", "ask_qtys")]
    + [StructField("done", LongType(), True)]
)


def _book_fold(
    variant: str,
    n: int,
    keys: Sequence[str],
    seq: str,
    cols: Sequence[str | None],
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
        # applyInPandasWithState delivers one group's micro-batch as MULTIPLE
        # Arrow chunks in arbitrary post-shuffle order, so gather them all
        # and order the whole batch before folding.
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        # A null seq reaches pandas as NaN in a float64 column, which an
        # int64 cast turns into INT64_MIN: refuse it before any cast.
        if pdf[seq].isna().any():
            raise OrderBookError(f"null event seq in book {key!r}: seqs must be non-null")
        seqs = pdf[seq].to_numpy(dtype=np.int64)
        order = np.argsort(seqs, kind="stable")
        seqs = seqs[order]
        if state.exists:
            bp, bq, ap, aq, done = state.get
            bids, asks = _side_from_lists(bp, bq), _side_from_lists(ap, aq)
        else:
            bids, asks, done = _Side(), _Side(), None
        # A replayed seq must not fold again, and a duplicate would apply
        # its qty delta twice: fail loudly instead.
        if done is not None and seqs[0] <= done:
            raise OrderBookError(
                f"event seq {seqs[0]} arrived out of order: the book folded "
                f"through seq {done}"
            )
        dup = seqs[1:] == seqs[:-1]
        if dup.any():
            raise OrderBookError(
                f"duplicate event seq {seqs[1:][dup][0]} — seqs must be "
                "unique per book"
            )
        out, mask, bids, asks = _fold_arrays(
            variant, n, seqs,
            *[_as_list(pdf[c].iloc[order]) if c else None for c in cols],
            bids=bids, asks=asks,
        )
        base = {k: [kv] * len(seqs) for k, kv in zip(keys, key)}
        base[seq] = seqs
        yield _snapshot_frame(base, out, mask, snap_cols)
        state.update((*_side_to_lists(bids), *_side_to_lists(asks), int(seqs[-1])))

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

    Events must arrive in ``seq`` order across micro-batches; a null,
    replayed or repeated seq fails the query (see the module docstring).
    """
    _check_n(n)
    if variant not in ("updates", "mutations", "modify"):
        raise ValueError(f"unknown variant: {variant}")
    if variant == "modify" and (prev_price is None or prev_qty is None):
        raise ValueError("modify variant requires prev_price and prev_qty")
    if not by:
        raise ValueError("streaming book requires at least one key column in `by`")
    # the fold reads every tick as an int (_as_list): ticks take the batch
    # fold's contract, and seq is refused unless integral
    _validate_tick_dtype(df.schema[seq].dataType, seq)
    modify = variant == "modify"
    df, read, _, restore_prices = _long_ticks(df, {
        "price": price, "qty": qty,
        "prev_price": prev_price if modify else None,
        "prev_qty": prev_qty if modify else None,
    }, n)

    keys = list(by)
    out_schema = StructType(
        [df.schema[k] for k in keys]
        + [StructField(seq, LongType(), False)]
        + [StructField(c, LongType(), True) for c in snapshot_columns(n)]
    )
    fold = _book_fold(
        variant, n, keys, seq,
        (is_bid, read["price"], read["qty"], read["prev_price"], read["prev_qty"]),
    )
    return restore_prices(
        df.groupBy(*[F.col(k) for k in keys])
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
