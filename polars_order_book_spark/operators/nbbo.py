"""NBBO — consolidated best bid/offer across books.

The reference maintains ONE book per key (ref: README.md:184-197 multi-product
group_by); the consolidated view one level up — "best bid/ask across all
venues, with total displayed size at that price" — is the National BBO
(Reg-NMS shape). Input is the keyed n=1 snapshot stream the existing
operators already produce; output is one row per event seq with the
cross-book best.

Semantics per event seq:
* every book's state = its most recent snapshot at or before seq;
* ``nbb_price`` = max bid across books, ``nbo_price`` = min ask;
* ``nbb_qty`` / ``nbo_qty`` = TOTAL size across all books quoting exactly
  the best price (consolidated displayed size).

A null price is an empty side: a book whose bid side empties stops
contributing to the bid until it quotes again. Every non-null price is a
quote, negative ones included.

Plan: NBBO is itself a fold over the global seq order with a little state
per book, so it runs as one. Each row gets a seq-chunk id, ``seq div W``;
each chunk that holds rows is seeded with every book's last snapshot before
it (a chunks × books ``max_by`` summary, carried forward per book), and
every chunk folds in one sequential ``mapInPandas`` pass. The chunks fold
in parallel, and no window runs over the event timeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from polars_order_book_spark.functions.runtime import shuffle_partitions
from polars_order_book_spark.operators.order_book import (
    _as_list, _register_self_by_value, _validate_tick_dtype,
)

_register_self_by_value(__name__)

# The chunk width W in seq units. For unique-seq streams (the book contract)
# a chunk holds about W rows, so the seeds (books per chunk that holds rows)
# add about books / W rows per row, and an input of a few W per shuffle
# partition folds on every partition. Seqs sparser than one per W units
# (epoch-nanosecond timestamps, say) hold fewer rows per chunk, down to one,
# so their seeds approach books per row.
_CHUNK_WIDTH = 4096

_QUOTES = ("bid_price_1", "bid_qty_1", "ask_price_1", "ask_qty_1")
_SIDES = ("bp", "bq", "ap", "aq")
_OUT = ("seq", "nbb_price", "nbb_qty", "nbo_price", "nbo_qty")


def _best(state: dict) -> tuple:
    """(nbb, nbb_qty, nbo, nbo_qty) over each book's (bp, bq, ap, aq)."""
    nbb = nbq = nbo = noq = None
    for bp, bq, ap, aq in state.values():
        if bp is not None:
            if nbb is None or bp > nbb:
                nbb, nbq = bp, bq
            elif bp == nbb:
                nbq = None if nbq is None or bq is None else nbq + bq
        if ap is not None:
            if nbo is None or ap < nbo:
                nbo, noq = ap, aq
            elif ap == nbo:
                noq = None if noq is None or aq is None else noq + aq
    return nbb, nbq, nbo, noq


def _nbbo_fold(batches):
    """Fold ``(__ck, __seed, seq, book, bp, bq, ap, aq)`` rows sorted by
    ``(__ck, __seed DESC, seq)`` into one NBBO row per seq.

    A chunk change resets the per-book state; a seed row sets its book's
    state and emits nothing. A seq's row is emitted once every row of that
    seq is applied, also when those rows span two batches.
    """
    ck, pend, state = object(), None, {}
    for pdf in batches:
        out = []
        cols = [_as_list(pdf[c]) for c in ("__ck", "__seed", "seq", "book", *_SIDES)]
        for c, seed, s, book, *quote in zip(*cols):
            if pend is not None and (c != ck or s != pend):
                out.append((pend, *_best(state)))
            if c != ck:
                ck, state = c, {}
            state[book] = quote
            pend = None if seed else s
        if out:
            yield pd.DataFrame(out, columns=_OUT, dtype=object)
    if pend is not None:
        yield pd.DataFrame([(pend, *_best(state))], columns=_OUT, dtype=object)


def _seeds(tagged: DataFrame, books: "list", book_type, seq_type) -> DataFrame:
    """The carry-in of ``tagged``'s chunks: for every chunk that holds rows
    and every book quoted before it, one row with the book's last snapshot
    before the chunk and ``__seed`` set, which sorts first in the chunk.
    Its seq is 0, which the fold ignores: a null would make Arrow hand the
    column to the fold as float64, which cannot hold epoch-nanosecond seqs.

    A mark row per (chunk, book) sorts ahead of the book's own summary row
    for that chunk, so the last summary at or before the mark is the
    book's state before the chunk. Seeds are at most books × (chunks that
    hold rows), however sparse the seqs are.
    """
    summary = tagged.groupBy("__ck", "book").agg(
        F.max_by(F.struct(*_SIDES), "seq").alias("__s")
    )
    marks = summary.select("__ck").distinct().select(
        "__ck",
        F.explode(F.array(*[F.lit(b).cast(book_type) for b in books])).alias("book"),
        F.lit(None).cast(summary.schema["__s"].dataType).alias("__s"),
    )
    before = (
        Window.partitionBy("book").orderBy("__ck", F.col("__s").isNotNull())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marks.unionByName(summary)
        .withColumn("__last", F.last("__s", ignorenulls=True).over(before))
        .where(F.col("__s").isNull() & F.col("__last").isNotNull())
        .select(
            "__ck",
            F.lit(True).alias("__seed"),
            F.lit(0).cast(seq_type).alias("seq"),
            "book",
            *[F.col(f"__last.{c}").alias(c) for c in _SIDES],
        )
    )


def nbbo(
    snapshots: DataFrame,
    books: "list",
    *,
    book_col: str = "book",
    seq_col: str = "seq",
) -> DataFrame:
    """Consolidate keyed level-1 snapshots into the cross-book NBBO.

    ``snapshots`` must carry one row per (book, event) with columns
    (book_col, seq_col, bid_price_1, bid_qty_1, ask_price_1, ask_qty_1) —
    the keyed ``top_n_levels_*(n=1)`` output — and a non-null seq.
    ``books`` is the explicit book id list (venue universe = static
    configuration); ids absent from the data never contribute, and a row of
    a book missing from the list fails the query.

    The seq order is cut into chunks of ``_CHUNK_WIDTH`` seq units
    (``seq div W``) that fold in parallel over the shuffle partitions. Each
    chunk that holds rows is seeded with every book's last quote before it,
    so there are at most books × (chunks that hold rows) seeds however
    sparse the seqs are.
    """
    if not books:
        raise ValueError("books must be non-empty")
    # A row of a book missing from the caller's list would otherwise be
    # folded in silently from a venue the caller never declared; a row
    # with a null seq has no place in the seq order. Both fail the query
    # instead.
    known = F.assert_true(
        F.col(book_col).isin([*books]) & F.col(seq_col).isNotNull(),
        F.when(
            F.col(seq_col).isNull(), F.lit("nbbo: snapshot row with a null seq")
        ).otherwise(F.concat(
            F.lit("nbbo: snapshot row for book "),
            F.col(book_col).cast("string"),
            F.lit(f" not in the caller's books list {list(books)} — its "
                  "quotes would be silently excluded from the NBBO"),
        )),
    )
    types = {f.name: f.dataType for f in snapshots.schema.fields}
    # The fold decodes through _as_list, which reads float columns as ints.
    for c in (seq_col, *_QUOTES):
        _validate_tick_dtype(types[c], c)
    # Serialized memory+disk: the rows feed the chunk summary and the fold,
    # and the checkpoint keeps the upstream plan from running once for each.
    rows = snapshots.where(known.isNull()).select(
        F.col(seq_col).alias("seq"),
        F.col(book_col).alias("book"),
        *[F.col(src).alias(dst) for src, dst in zip(_QUOTES, _SIDES)],
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    tagged = rows.withColumn("__ck", F.expr(f"seq div {_CHUNK_WIDTH}"))

    seeds = _seeds(tagged, books, types[book_col], types[seq_col])
    # An explicit partition count: adaptive execution would coalesce a
    # small input's chunks into one fold task.
    parts = shuffle_partitions(snapshots.sparkSession, fallback_df=rows)
    schema = StructType([
        StructField(name, types[src]) for name, src in zip(_OUT, (seq_col, *_QUOTES))
    ])
    return (
        seeds.unionByName(tagged.select(
            "__ck", F.lit(False).alias("__seed"), "seq", "book", *_SIDES
        ))
        .repartition(parts, "__ck")
        .sortWithinPartitions("__ck", F.col("__seed").desc(), "seq")
        .mapInPandas(_nbbo_fold, schema)
    )
