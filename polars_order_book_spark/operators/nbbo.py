"""NBBO — consolidated best bid/offer across books.

The reference maintains ONE book per key (ref: README.md:184-197 multi-product
group_by); the consolidated view one level up — "best bid/ask across all
venues, with total displayed size at that price" — is the National BBO
(Reg-NMS shape). Input is the keyed n=1 snapshot stream the existing
operators already produce; output is one row per event with the
cross-book best.

Semantics per event seq:
* every book's state = its most recent snapshot at or before seq (forward
  fill over the global timeline);
* ``nbb_price`` = max bid across books, ``nbo_price`` = min ask;
* ``nbb_qty`` / ``nbo_qty`` = TOTAL size across all books quoting exactly
  the best price (consolidated displayed size).

Empty-side correctness: a book whose bid side empties must STOP contributing
— a bare ignore-nulls forward fill would carry its stale price forever. Each
snapshot therefore encodes "now empty" as a sentinel before the fill and
decodes after (prices must exceed ``empty_sentinel``; the default -1 suits
positive integer ticks).

Scale contract: the book count B is venue-bounded (dimension-sized — tens,
not millions), so the pivot is 4·B columns wide. The forward fill DEFAULTS
to the segmented scan ("auto"): fill within seq-range chunks in parallel,
prefix-scan the chunks-sized summaries, join the carry back. The only
unpartitioned window in the default plan runs over the chunk summaries —
a bounded relation — never over the event timeline, so the plan survives a
100× scale-up without silently serializing into one task (r5 default flip;
the old single-window behavior remains via ``chunk_size=None``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Auto-chunk bound for the segmented forward-fill: one chunk never covers
# more than this many seq units, however few shuffle partitions the session
# has. For unique-seq streams (the book contract) span ≈ rows, so this also
# bounds the rows a single chunk — and therefore a single cached pivot
# block and a single window task — can hold.
_AUTO_CHUNK_MAX_SPAN = 2_000_000


def nbbo(
    snapshots: DataFrame,
    books: "list",
    *,
    book_col: str = "book",
    seq_col: str = "seq",
    empty_sentinel: int = -1,
    chunk_size: "int | None | str" = "auto",
) -> DataFrame:
    """Consolidate keyed level-1 snapshots into the cross-book NBBO.

    ``snapshots`` must carry one row per (book, event) with columns
    (book_col, seq_col, bid_price_1, bid_qty_1, ask_price_1, ask_qty_1) —
    the keyed ``top_n_levels_*(n=1)`` output. ``books`` is the explicit book
    id list (venue universe = static configuration, keeping the plan fully
    lazy; ids absent from the data simply never contribute).

    ``chunk_size`` selects the forward-fill strategy:

    * ``"auto"`` (default) — SEGMENTED SCAN with chunk boundaries derived
      lazily from the seq bounds (one tiny broadcast agg): the timeline
      splits into ~shuffle-partitions equal seq ranges, (1) fill within
      each chunk in parallel, (2) summarize each chunk's final per-column
      state (``max_by`` over non-null rows — chunks-sized relation), (3)
      prefix-scan the summaries in one tiny window and join each chunk's
      carry-in back. No events-sized single-task window anywhere in the
      plan.
    * an ``int`` — same segmented scan with a fixed chunk WIDTH in seq
      units (``seq div chunk_size``). NOTE the unit: a chunk SIZE, NOT a
      chunk COUNT.
    * ``None`` — ONE global ordered window (single task holds the whole
      timeline). Simplest plan and ~1.5x faster at sf0.1 (measured
      best-of-3: 2.5s vs 4.0s — below one task's capacity, chunking costs
      more than the lost parallelism buys), but it serializes at scale;
      opt in only when the timeline is known small.

    All three produce identical output (pinned by differential tests + the
    shared driver oracle).
    """
    if not books:
        raise ValueError("books must be non-empty")
    if isinstance(chunk_size, str) and chunk_size != "auto":
        raise ValueError(f"chunk_size must be an int, None, or 'auto', got {chunk_size!r}")
    if isinstance(chunk_size, int) and chunk_size <= 0:
        raise ValueError(f"chunk_size must be > 0, got {chunk_size}")
    sent = F.lit(empty_sentinel)
    # Misconfiguration guard (r8 self-review): pivot(__book, books) silently
    # DISCARDS rows from any book present in the data but missing from the
    # caller's list — a best bid sitting only on the unlisted venue would
    # vanish and the NBBO would be quietly wrong. Assert membership per row
    # so a stale venue config fails loudly instead.
    known = F.assert_true(
        F.col(book_col).isin([*books]),
        F.concat(
            F.lit("nbbo: snapshot row for book "),
            F.col(book_col).cast("string"),
            F.lit(f" not in the caller's books list {list(books)} — its "
                  "quotes would be silently excluded from the NBBO"),
        ),
    )
    enc = snapshots.where(known.isNull()).select(
        F.col(seq_col).alias("seq"),
        F.col(book_col).alias("__book"),
        F.coalesce(F.col("bid_price_1"), sent).alias("bp"),
        F.coalesce(F.col("bid_qty_1"), sent).alias("bq"),
        F.coalesce(F.col("ask_price_1"), sent).alias("ap"),
        F.coalesce(F.col("ask_qty_1"), sent).alias("aq"),
    )
    piv = (
        enc.groupBy("seq")
        .pivot("__book", list(books))
        .agg(
            F.first("bp").alias("bp"),
            F.first("bq").alias("bq"),
            F.first("ap").alias("ap"),
            F.first("aq").alias("aq"),
        )
    )
    raw_names = [f"{b}_{c}" for b in books for c in ("bp", "bq", "ap", "aq")]
    out_names = {f"{b}_{c}": f"{c}{b}" for b in books for c in ("bp", "bq", "ap", "aq")}

    def decode(col):
        return F.when(col == empty_sentinel, F.lit(None)).otherwise(col)

    if chunk_size is None:
        w = Window.orderBy("seq").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        state = piv.select(
            "seq",
            *[
                decode(F.last(F.col(n), ignorenulls=True).over(w)).alias(out_names[n])
                for n in raw_names
            ],
        )
    else:
        if chunk_size == "auto":
            # Lazy equal-width chunking into ~shuffle-partitions ranges: the
            # bounds relation is ONE row, broadcast, so the plan stays fully
            # lazy and never collects driver-side.
            from polars_order_book_spark.functions.runtime import shuffle_partitions

            n_chunks = shuffle_partitions(snapshots.sparkSession, fallback_df=piv)
            bounds = piv.agg(
                F.min("seq").alias("__smin"), F.max("seq").alias("__smax")
            )
            span = F.col("__smax") - F.col("__smin") + F.lit(1)
            # Divide BEFORE multiplying, in double: (seq - smin) * n_chunks as
            # a long multiply overflows (and wraps) once the seq span exceeds
            # 2^63/n_chunks, silently breaking chunk-id monotonicity. The
            # double path loses only low-bit precision, and the least() cap +
            # coalesce keep ids in [0, n_chunks).
            frac = (F.col("seq") - F.col("__smin")).cast("double") / span.cast("double")
            # Chunk COUNT is itself span-derived (still fully in-plan): at
            # least the shuffle width, but enough chunks that one chunk
            # never spans more than _AUTO_CHUNK_MAX_SPAN seq units. A fixed
            # count equal to the local shuffle width (32) made ~3M-row
            # chunks at 100M events, and the checkpointed pivot's ~920 MB
            # per-partition blocks blew the JVM's direct-memory allowance
            # (r10 third-decade probe). For unique-seq streams span ≈ rows,
            # so this bounds chunk rows; on a real cluster shuffle width is
            # thousands and the floor rarely binds. Plans below
            # 32 × _AUTO_CHUNK_MAX_SPAN seq units are unchanged.
            nck = F.greatest(
                F.lit(n_chunks).cast("long"),
                F.ceil(span.cast("double") / F.lit(float(_AUTO_CHUNK_MAX_SPAN))),
            )
            ck = F.least(
                nck - F.lit(1),
                F.floor(frac * nck.cast("double")),
            )
            with_ck = (
                piv.join(F.broadcast(bounds))
                .withColumn("__ck", F.coalesce(ck, F.lit(0)).cast("long"))
                .drop("__smin", "__smax")
            )
        else:
            with_ck = piv.withColumn("__ck", F.expr(f"seq div {int(chunk_size)}"))
        # localCheckpoint: the chunked pivot feeds BOTH the within-chunk
        # fill and the summary aggregate — without lineage truncation the
        # events-sized pivot shuffle runs twice per action. SERIALIZED
        # memory+disk, not the default deserialized level: this relation is
        # events-sized × ~4·|books| columns, and deserialized row objects
        # for 100M events are ~3× the heap that serialized blocks need —
        # the r10 third-decade probe OOMed even a 24 GB heap on the default
        # level while the fold itself ran fine in 53 s. Serialized blocks
        # also evict to disk wholesale instead of re-unrolling.
        from pyspark.storagelevel import StorageLevel

        chunked = with_ck.localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        w_in = (
            Window.partitionBy("__ck")
            .orderBy("seq")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        within = chunked.select(
            "seq",
            "__ck",
            *[
                F.last(F.col(n), ignorenulls=True).over(w_in).alias(f"__w_{n}")
                for n in raw_names
            ],
        )
        # Chunk summaries: the final (highest-seq) non-null raw value per
        # column — max_by skips rows whose ordering key is null, so a column
        # silent for a whole chunk summarizes as null and the prefix scan
        # looks further back.
        summary = chunked.groupBy("__ck").agg(
            *[
                F.max_by(
                    F.col(n), F.when(F.col(n).isNotNull(), F.col("seq"))
                ).alias(f"__s_{n}")
                for n in raw_names
            ]
        )
        w_carry = Window.orderBy("__ck").rowsBetween(
            Window.unboundedPreceding, -1
        )
        carry = summary.select(
            "__ck",
            *[
                F.last(F.col(f"__s_{n}"), ignorenulls=True)
                .over(w_carry)
                .alias(f"__c_{n}")
                for n in raw_names
            ],
        )
        state = within.join(carry, "__ck").select(
            "seq",
            *[
                decode(F.coalesce(F.col(f"__w_{n}"), F.col(f"__c_{n}"))).alias(
                    out_names[n]
                )
                for n in raw_names
            ],
        )
    bids = [F.col(f"bp{b}") for b in books]
    asks = [F.col(f"ap{b}") for b in books]
    nbb = F.greatest(*bids) if len(bids) > 1 else bids[0]
    nbo = F.least(*asks) if len(asks) > 1 else asks[0]

    def size_at(price_col, price_of, qty_of):
        terms = [
            F.when(F.col(price_of(b)) == price_col, F.col(qty_of(b))).otherwise(F.lit(0))
            for b in books
        ]
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        return F.when(price_col.isNull(), F.lit(None)).otherwise(total)

    return state.select(
        "seq",
        nbb.alias("nbb_price"),
        size_at(nbb, lambda b: f"bp{b}", lambda b: f"bq{b}").alias("nbb_qty"),
        nbo.alias("nbo_price"),
        size_at(nbo, lambda b: f"ap{b}", lambda b: f"aq{b}").alias("nbo_qty"),
    )
