"""Relational helpers for order-book event streams.

Two DataFrame-only building blocks that sit beside the exact fold
(``order_book``), not in its place:

* :func:`modify_to_mutations` explodes modify events into the signed deltas
  of the 9-way decision table (ref: update.rs:132-162), so a modify stream
  can be reasoned about in the mutations algebra.
* :func:`mutation_stream_violations` finds every row of a mutation stream
  that breaks the reference's error contract, in one pass of windows.

Snapshots themselves come from the fold
(``top_n_levels_from_price_updates`` / ``_mutations`` /
``_mutations_with_modify``).
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
    algebra, the form the SQL oracle folds too. A row the fold rejects fails
    here as well.
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
    # delete_qty(abs)`, which the fold also accepts
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
    # kept: they don't move any level, but every input seq must survive the
    # explode so a fold over the deltas still emits one row per input event.
    return exploded.select(
        *other,
        F.col("__d.d_price").alias(price),
        F.col("__d.d_qty").alias(qty),
    )


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
    (ref: book_side.rs:91-112). The fold raises too, but stops at the first
    violation of each book; this reports ALL of them at once, so run it to
    see what is wrong with a stream the fold rejected. Returns
    (by..., seq, is_bid, price, level_qty, reason) with
    reason ∈ {'null_field', 'negative_level'}; empty when the stream is valid.

    Scale: one running-sum window per (keys, side, price) over the delta rows.
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
