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
per book, so it runs as one. Each row gets a seq-chunk id; each chunk is
seeded with every book's last snapshot before it (a chunks × books
``max_by`` summary, exploded over the chunks each summary row carries
into), and every chunk folds in one sequential ``mapInPandas`` pass. The
chunks fold in parallel, and no window runs over the event timeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

from polars_order_book_spark.operators.order_book import (
    _as_list, _register_self_by_value, _validate_tick_dtype,
)

_register_self_by_value(__name__)

# Auto-chunk bound: one chunk never covers more than this many seq units,
# however few shuffle partitions the session has. For unique-seq streams
# (the book contract) span ≈ rows, so this also bounds the rows one fold
# task holds per chunk.
_AUTO_CHUNK_MAX_SPAN = 2_000_000

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
    """Fold ``(__ck, seq, book, bp, bq, ap, aq)`` rows sorted by
    ``(__ck, seq NULLS FIRST)`` into one NBBO row per seq.

    A chunk change resets the per-book state; a seed row (null seq) sets
    its book's state and emits nothing. A seq's row is emitted once every
    row of that seq is applied, also when those rows span two batches.
    """
    ck, pend, state = object(), None, {}
    for pdf in batches:
        out = []
        cols = [_as_list(pdf[c]) for c in ("__ck", "seq", "book", *_SIDES)]
        for c, s, book, *quote in zip(*cols):
            if pend is not None and (c != ck or s != pend):
                out.append((pend, *_best(state)))
            if c != ck:
                ck, state = c, {}
            state[book] = quote
            pend = s
        if out:
            yield pd.DataFrame(out, columns=_OUT, dtype=object)
    if pend is not None:
        yield pd.DataFrame([(pend, *_best(state))], columns=_OUT, dtype=object)


def nbbo(
    snapshots: DataFrame,
    books: "list",
    *,
    book_col: str = "book",
    seq_col: str = "seq",
    chunk_size: "int | None | str" = "auto",
) -> DataFrame:
    """Consolidate keyed level-1 snapshots into the cross-book NBBO.

    ``snapshots`` must carry one row per (book, event) with columns
    (book_col, seq_col, bid_price_1, bid_qty_1, ask_price_1, ask_qty_1) —
    the keyed ``top_n_levels_*(n=1)`` output — and a non-null seq.
    ``books`` is the explicit book id list (venue universe = static
    configuration); ids absent from the data never contribute, and a row of
    a book missing from the list fails the query.

    ``chunk_size`` cuts the seq order into the chunks that fold in parallel:

    * ``"auto"`` (default) — about shuffle-partitions equal seq ranges,
      derived lazily from the seq bounds (one tiny scalar aggregate), with no
      chunk wider than ``_AUTO_CHUNK_MAX_SPAN`` seq units.
    * an ``int`` — a fixed chunk WIDTH in seq units (``seq div chunk_size``),
      NOT a chunk count. Every chunk id between the first and the last is
      seeded, so a width far below the seq gaps makes many empty chunks.
    * ``None`` — one chunk: the whole timeline folds in one task.

    All three produce identical output (pinned by differential tests + the
    shared driver oracle).
    """
    if not books:
        raise ValueError("books must be non-empty")
    if isinstance(chunk_size, str) and chunk_size != "auto":
        raise ValueError(f"chunk_size must be an int, None, or 'auto', got {chunk_size!r}")
    if isinstance(chunk_size, int) and chunk_size <= 0:
        raise ValueError(f"chunk_size must be > 0, got {chunk_size}")
    # A row of a book missing from the caller's list would otherwise be
    # folded in silently from a venue the caller never declared; a row
    # with a null seq has no place in the seq order (and a null seq marks
    # a seed row below). Both fail the query instead.
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
    # Serialized memory+disk: the rows feed the bounds, the chunk summary
    # and the fold, and the checkpoint keeps the upstream plan from running
    # once for each.
    rows = snapshots.where(known.isNull()).select(
        F.col(seq_col).alias("seq"),
        F.col(book_col).alias("book"),
        *[F.col(src).alias(dst) for src, dst in zip(_QUOTES, _SIDES)],
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)

    if chunk_size is None:
        tagged = rows.withColumn("__ck", F.lit(0).cast("long"))
    elif chunk_size == "auto":
        # Equal-width chunking: the seq bounds are one-row scalar
        # subqueries, so the chunk ids stay in-plan, nothing is collected
        # driver-side and nothing is joined.
        from polars_order_book_spark.functions.runtime import shuffle_partitions

        n_chunks = shuffle_partitions(snapshots.sparkSession, fallback_df=rows)
        smin = rows.agg(F.min("seq")).scalar()
        span = rows.agg(F.max("seq")).scalar() - smin + F.lit(1)
        # Divide BEFORE multiplying, in double: (seq - smin) * n_chunks as
        # a long multiply overflows (and wraps) once the seq span exceeds
        # 2^63/n_chunks, silently breaking chunk-id monotonicity. The
        # double path loses only low-bit precision, and the least() cap +
        # coalesce keep ids in [0, n_chunks).
        frac = (F.col("seq") - smin).cast("double") / span.cast("double")
        # Chunk COUNT is itself span-derived (still fully in-plan): at
        # least the shuffle width, but enough chunks that one chunk never
        # spans more than _AUTO_CHUNK_MAX_SPAN seq units. A fixed count
        # equal to the local shuffle width (32) made ~3M-row chunks at 100M
        # events (r10 third-decade probe). For unique-seq streams span ≈
        # rows, so this bounds chunk rows; on a real cluster shuffle width
        # is thousands and the floor rarely binds.
        nck = F.greatest(
            F.lit(n_chunks).cast("long"),
            F.ceil(span.cast("double") / F.lit(float(_AUTO_CHUNK_MAX_SPAN))),
        )
        ck = F.least(nck - F.lit(1), F.floor(frac * nck.cast("double")))
        tagged = rows.withColumn("__ck", F.coalesce(ck, F.lit(0)).cast("long"))
    else:
        tagged = rows.withColumn("__ck", F.expr(f"seq div {int(chunk_size)}"))

    # Carry-in: each book's last snapshot per chunk seeds every later chunk
    # up to and including the book's next chunk (or the last chunk). Seeds
    # have a null seq, so they sort first in their chunk.
    summary = tagged.groupBy("__ck", "book").agg(
        F.max_by(F.struct(*_SIDES), "seq").alias("__s")
    )
    stop = F.coalesce(
        F.lead("__ck").over(Window.partitionBy("book").orderBy("__ck")),
        F.max("__ck").over(Window.partitionBy()),
    )
    # Spark's sequence counts down when start > stop: only rows with a
    # later chunk to seed may reach it.
    seeds = (
        summary.withColumn("__stop", stop)
        .where(F.col("__ck") < F.col("__stop"))
        .select(
            F.explode(F.sequence(F.col("__ck") + 1, F.col("__stop"))).alias("__ck"),
            F.lit(None).cast(types[seq_col]).alias("seq"),
            "book",
            *[F.col(f"__s.{c}").alias(c) for c in _SIDES],
        )
    )
    schema = StructType([
        StructField(name, types[src]) for name, src in zip(_OUT, (seq_col, *_QUOTES))
    ])
    return (
        seeds.unionByName(tagged.select("__ck", "seq", "book", *_SIDES))
        .repartition("__ck")
        .sortWithinPartitions("__ck", F.col("seq").asc_nulls_first())
        .mapInPandas(_nbbo_fold, schema)
    )
