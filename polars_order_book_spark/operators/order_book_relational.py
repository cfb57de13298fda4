"""Top-N order-book snapshots — pure relational formulation (strategy B).

Same semantics as ``order_book`` for valid inputs, expressed entirely in
DataFrame/window operators so Catalyst/Tungsten own the physical plan
(SURVEY.md §4.3-B). No Python in the hot path: whole-stage codegen applies,
AQE can re-plan the shuffles, and the fold's per-book serialization disappears.

Shape: level quantity after each event is a running aggregate per
``(book, side, price)`` — running SUM of deltas for mutations
(ref: update.rs:113-123), running LAST of set-values for updates
(ref: update.rs:101-105). The book as-of every event seq is materialized on a
grid of (event seq × distinct touched levels), then ranked side-aware and
pivoted into the 4·n snapshot columns.

Scale analysis (100 TB): the grid is |events| × |distinct price levels per
book|. Real books have a bounded live-price domain (the reference's own
benches use depth ≤ 10k, ref: order_book/benches/book_side.rs:31-74), so the
grid is a constant factor, the distinct-level side of the join is broadcast,
and everything else is one shuffle per window key reused across both windows.
This is also the independent oracle used to differential-test strategy A.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def modify_to_mutations(
    df: DataFrame,
    price: str = "price",
    qty: str = "qty",
    is_bid: str = "is_bid",
    prev_price: str = "prev_price",
    prev_qty: str = "prev_qty",
    *,
    seq: str = "seq",
) -> DataFrame:
    """Explode modify events into plain signed-delta rows sharing the seq.

    The 9-way decision table (ref: update.rs:132-162) reduces to at most two
    deltas per event: −prev_qty@prev_price and +qty@price (degenerate cases
    collapse to one). Emitting deltas keeps the whole stream in the mutations
    algebra, so strategy B (and the SQL oracle) apply unchanged.
    """
    pp, pq, q, p = F.col(prev_price), F.col(prev_qty), F.col(qty), F.col(price)
    delta_del = F.when(
        pp.isNotNull() & pq.isNotNull(), F.struct(pp.alias("d_price"), (-pq).alias("d_qty"))
    ).when(
        pp.isNull() & pq.isNotNull() & (q == 0), F.struct(p.alias("d_price"), (-pq).alias("d_qty"))
    ).when(
        pp.isNull() & pq.isNotNull() & (q > 0),
        F.struct(p.alias("d_price"), (q - pq).alias("d_qty")),
    )
    delta_add = F.when(
        pp.isNotNull() & pq.isNotNull() & (q != 0), F.struct(p.alias("d_price"), q.alias("d_qty"))
    ).when(pp.isNull() & pq.isNull(), F.struct(p.alias("d_price"), q.alias("d_qty")))
    other = [c for c in df.columns if c not in (price, qty, prev_price, prev_qty)]
    # A row the fold rejects must FAIL here too (ref update.rs:158-162),
    # not silently vanish or half-emit. Both-deltas-null catches
    # no-branch rows (e.g. prev_price set with prev_qty null), but alone
    # it missed two cases the fold raises on (r8 self-review, confirmed
    # by execution): a NEGATIVE new qty with non-null prevs (branch 1 of
    # both deltas matches, emitting a negative add), and a NULL qty/price
    # with non-null prevs (the delete leg emits while the add leg's
    # null-valued when() silently drops — a valid-looking delta stream
    # even mutation_stream_violations cannot flag). assert_true fused
    # into the explode input cannot be pruned away.
    # Negative qty is only the reference's panic arm when a prev field is
    # set (ref update.rs:158 `(Less, Some(_), _) | (Less, _, Some(_))`);
    # with BOTH prevs null it is a plain delete, `(Less, None, None) =>
    # delete_qty(abs)`, which strategy A's fold also accepts
    # (order_book.py:352-353) and which the add-leg branch below already
    # renders as the correct negative delta.
    invalid = (
        q.isNull()
        | p.isNull()
        | ((q < 0) & (pq.isNotNull() | pp.isNotNull()))
        | (delta_del.isNull() & delta_add.isNull())
    )
    guard = F.assert_true(
        ~invalid,
        F.concat(
            F.lit("invalid modify event at seq "),
            F.col(seq).cast("string"),
            F.lit(": null price/qty, negative qty, or no branch of the "
                  "modify decision table (the fold rejects this row too, "
                  "ref update.rs:158-162)"),
        ),
    )
    arr = F.when(guard.isNull(), F.array(delta_del, delta_add))
    exploded = df.select(
        *other, F.explode(arr).alias("__d")
    ).where(F.col("__d").isNotNull())
    # Zero-delta rows (pure no-op q=0, qty-only modify with q == prev_qty) are
    # kept: they don't move the running sum, but their seq must still appear in
    # the events grid so strategy B emits a snapshot row per input event,
    # matching strategy A's one-row-per-event contract.
    return exploded.select(
        *other,
        F.col("__d.d_price").alias(price),
        F.col("__d.d_qty").alias(qty),
    )


def _segmented_running_levels(
    g: DataFrame,
    variant: str,
    keys: list[str],
    seq: str,
    is_bid: str,
    price: str,
    qty: str,
    n_buckets: int,
    source: DataFrame,
    deltas: DataFrame,
    levels: DataFrame,
) -> DataFrame:
    """Two-phase segmented scan of the running level aggregate.

    Phase 1 partitions the grid by (keys, seq-bucket, side, price) — buckets ×
    levels-way parallel — and computes the bucket-LOCAL running aggregate.
    Phase 2 reduces each bucket to one row per (keys, bucket, side, price)
    (the bucket total for sums, the bucket-last set-value for updates), runs
    the tiny carry-in prefix over buckets, and broadcast-joins it back:

        level_qty = carry_in (+ local running sum | coalesce local last)

    The carry-in relation is |buckets| × |levels| rows — broadcastable at any
    event count. Bucket boundaries come LAZILY from a 1-row min/max(seq)
    aggregate attached via broadcast cross join — the scalar-normalizer shape,
    so construction triggers zero Spark jobs and the bounds subtree executes
    with the query (its exchange is identical on both attach sites, which
    AQE/ReuseExchange dedupes).
    """
    bounds = source.agg(
        F.min(F.col(seq)).alias("__mn"), F.max(F.col(seq)).alias("__mx")
    ).select(
        "__mn",
        F.expr(
            f"greatest(1L, ((__mx - __mn) div {n_buckets}) + 1L)"
        ).alias("__w"),
    )

    def bkt_of(rel: DataFrame) -> DataFrame:
        return (
            rel.crossJoin(F.broadcast(bounds))
            .withColumn("__bkt", F.expr(f"(`{seq}` - __mn) div __w"))
            .drop("__mn", "__w")
        )

    g = bkt_of(g)

    w_local = (
        Window.partitionBy(*keys, "__bkt", is_bid, price)
        .orderBy(seq)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if variant == "mutations":
        local = F.sum(F.coalesce(F.col(qty), F.lit(0))).over(w_local)
    else:  # updates: bucket-local running last (ignoring non-delta grid rows)
        local = F.last(F.col(qty), ignorenulls=True).over(w_local)
    staged = g.select(*keys, seq, "__bkt", is_bid, price, local.alias("__local"))

    # Carry-in branch NEVER touches the grid (the naive formulation replays
    # the whole grid+window subtree inside the broadcast build — plan-dump
    # finding). Bucket reductions need only DELTA rows; the tiny complete
    # (levels × buckets) domain then guarantees every staged row finds its
    # carry even for buckets where a level has no delta.
    d = bkt_of(deltas)
    if variant == "mutations":
        bval = F.sum(F.col(qty)).alias("__bval")
    else:
        # last set-value by seq: max over (seq, qty) structs of non-null qty
        bval = F.max(
            F.when(F.col(qty).isNotNull(), F.struct(F.col(seq).alias("s"), F.col(qty).alias("q")))
        )["q"].alias("__bval")
    btots = d.groupBy(*keys, "__bkt", is_bid, price).agg(bval)
    domain = levels.select(
        *keys, is_bid, price,
        F.explode(F.sequence(F.lit(0), F.lit(n_buckets))).alias("__bkt"),
    )
    w_carry = (
        Window.partitionBy(*keys, is_bid, price)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    full = domain.join(btots, on=[*keys, "__bkt", is_bid, price], how="left")
    if variant == "mutations":
        carry_col = F.coalesce(F.sum("__bval").over(w_carry), F.lit(0))
        combine = F.col("__carry") + F.col("__local")
    else:
        carry_col = F.last("__bval", ignorenulls=True).over(w_carry)
        combine = F.coalesce(F.col("__local"), F.col("__carry"))
    carry = full.select(*keys, "__bkt", is_bid, price, carry_col.alias("__carry"))

    joined = staged.join(
        F.broadcast(carry), on=[*keys, "__bkt", is_bid, price], how="left"
    )
    return joined.select(*keys, seq, is_bid, price, combine.alias("level_qty"))


def mutation_stream_violations(
    df: DataFrame,
    price: str = "price",
    qty: str = "qty",
    is_bid: str = "is_bid",
    *,
    seq: str = "seq",
    by: Sequence[str] | None = None,
) -> DataFrame:
    """Rows where a mutation stream violates the reference's error contract.

    A delta stream is valid iff no event field is null (ref: update.rs:8-16)
    and every per-level prefix sum stays >= 0 — deleting from a missing level
    and over-deleting both drive the running sum negative
    (ref: book_side.rs:91-112). The exact fold RAISES on all of these
    (strategy A parity with the reference); the relational path computes
    through them silently, so run this validator first when input validity is
    not known. Returns (by..., seq, is_bid, price, level_qty, reason) with
    reason ∈ {'null_field', 'negative_level'}; empty when the stream is valid.

    Scale: one running-sum window per (keys, side, price) over DELTA rows only
    (no events×levels grid) — strictly cheaper than the snapshot query itself.
    """
    keys = list(by) if by else []
    null_row = F.col(is_bid).isNull() | F.col(price).isNull() | F.col(qty).isNull()
    nulls = df.where(null_row).select(
        *keys, seq, is_bid, price,
        F.lit(None).cast("long").alias("level_qty"),
        F.lit("null_field").alias("reason"),
    )
    w = (
        Window.partitionBy(*keys, F.col(is_bid), F.col(price))
        .orderBy(seq)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(F.col(qty)).over(w)
    negative = (
        df.where(~null_row)
        .select(*keys, seq, is_bid, price, run.alias("level_qty"))
        .where(F.col("level_qty") < 0)
        .withColumn("reason", F.lit("negative_level"))
    )
    return nulls.unionByName(negative)


def top_n_levels_relational(
    df: DataFrame,
    price: str = "price",
    qty: str = "qty",
    is_bid: str = "is_bid",
    *,
    seq: str = "seq",
    by: Sequence[str] | None = None,
    n: int = 1,
    variant: str = "mutations",
    seq_buckets: int | None = None,
) -> DataFrame:
    """Book snapshots via windows + grid join; returns (by..., seq, 4·n cols).

    ``variant``: ``"mutations"`` (running sum of deltas) or ``"updates"``
    (running last of set-values). For modify streams, pre-apply
    :func:`modify_to_mutations`.

    ``seq_buckets`` splits the running aggregate into a two-phase segmented
    scan over contiguous seq ranges: phase 1 computes bucket-local running
    aggregates partitioned by (keys, bucket, side, price); phase 2 derives a
    per-bucket carry-in from the tiny bucket-totals relation and broadcasts it
    back. Without it the window's parallelism is capped at |keys| × 2 ×
    |price domain| — with a 20-price book that is ≤40 partitions no matter how
    large the cluster (the 100 TB scale-killer). Default: 32 buckets when
    ``by`` is empty (single global book), off when keyed (parallelism already
    scales with the number of books; pass explicitly for skewed books).

    Construction is fully lazy: bucket bounds come from a 1-row
    min/max(seq) aggregate broadcast-cross-joined in (the scalar-normalizer
    shape), which executes with the query — no job runs at construction
    (pinned by tests/test_order_book_relational.py's zero-jobs listener
    test).
    """
    from polars_order_book_spark.operators.order_book import _check_n

    _check_n(n)  # same 1..=20 guardrail as the fold (ref: calculate_bbo.rs:120-123)
    if variant not in ("mutations", "updates"):
        raise ValueError(f"unknown variant {variant!r}")
    keys = list(by) if by else []
    kc = [F.col(k) for k in keys]
    if seq_buckets is None:
        seq_buckets = 0 if keys else 32

    # Contract divergence, enforced loudly: the relational path's equi-joins
    # (grid, deltas, segmented carries, final snapshot join) drop null join
    # keys, so a null-key book would come back as silent all-null snapshots
    # where strategy A computes real ones (it joins eqNullSafe). Fail the
    # plan per offending ROW instead — the guard rides the events relation,
    # which every output row descends from, so it cannot be pruned.
    if keys:
        nn = F.lit(True)
        for k in keys:
            nn = nn & F.col(k).isNotNull()
        key_guard = F.assert_true(
            nn,
            F.lit(
                "top_n_levels_relational requires non-null `by` keys; "
                "null-key books are supported by the fold strategy "
                "(top_n_levels_from_price_*)"
            ),
        )
        df = df.withColumn(seq, F.when(key_guard.isNull(), F.col(seq)))

    events = df.select(*keys, seq).distinct()
    levels = df.select(*keys, is_bid, price).distinct()
    # Touched-level dimension is small and bounded → broadcast, no shuffle.
    grid = events.join(F.broadcast(levels), on=keys) if keys else events.crossJoin(
        F.broadcast(levels)
    )

    deltas = df.select(*keys, seq, is_bid, price, qty)
    if variant == "mutations":
        # Collapse multiple deltas hitting the same (seq, side, price) — e.g.
        # a same-price modify exploded into delete+add — so the grid join
        # stays 1:1 and the rank never sees a duplicated level.
        deltas = deltas.groupBy(*keys, seq, is_bid, price).agg(F.sum(qty).alias(qty))
    g = grid.join(deltas, on=[*keys, seq, is_bid, price], how="left")

    if seq_buckets and seq_buckets > 1:
        booked = _segmented_running_levels(
            g, variant, keys, seq, is_bid, price, qty, seq_buckets, df, deltas,
            levels,
        )
    else:
        w = (
            Window.partitionBy(*kc, F.col(is_bid), F.col(price))
            .orderBy(seq)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        if variant == "mutations":
            lq = F.sum(F.coalesce(F.col(qty), F.lit(0))).over(w)
        else:
            lq = F.last(F.col(qty), ignorenulls=True).over(w)
        booked = g.select(*keys, seq, is_bid, price, lq.alias("level_qty"))
    booked = booked.where(F.col("level_qty") > 0)

    # Top-N assembly in ONE shuffle: collect each event's live levels into a
    # per-side array, sort side-aware in-memory (arrays are |live levels|
    # long — bounded), and project the first n. Replaces a rank window +
    # pivot groupBy (two grid-sized shuffles) with a single groupBy(seq).
    # Best = greatest bid / least ask (the reference encodes this as
    # AskPrice's reversed Ord, ref: price_level.rs:88-92) via the order key.
    bid = F.col(is_bid)
    ordkey = F.when(bid, -F.col(price)).otherwise(F.col(price))
    lvl = F.struct(ordkey.alias("o"), F.col(price).alias("p"), F.col("level_qty").alias("q"))
    snaps = booked.groupBy(*keys, seq).agg(
        F.slice(F.array_sort(F.collect_list(F.when(bid, lvl))), 1, n).alias("__b"),
        F.slice(F.array_sort(F.collect_list(F.when(~bid, lvl))), 1, n).alias("__a"),
    )
    cols = []
    for i in range(1, n + 1):
        # F.get is 0-based and null-safe out of bounds (element_at raises
        # under ANSI mode)
        cols += [
            F.get("__b", i - 1)["p"].alias(f"bid_price_{i}"),
            F.get("__b", i - 1)["q"].alias(f"bid_qty_{i}"),
            F.get("__a", i - 1)["p"].alias(f"ask_price_{i}"),
            F.get("__a", i - 1)["q"].alias(f"ask_qty_{i}"),
        ]
    snaps = snaps.select(*keys, seq, *cols)
    # Keep every event row, even those whose book is empty (all-null snapshot).
    return events.join(snaps, on=[*keys, seq], how="left")
