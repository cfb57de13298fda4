"""Differential tests: the fold against the Spark-free naive book
(``tests/naive_book.py``), mirroring the reference's own Simple-vs-Tracked
differential pattern (ref: order_book/tests/book_side_tests.rs), plus the
relational helpers ``modify_to_mutations`` and
``mutation_stream_violations``."""

import random

import pytest

from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from polars_order_book_spark import (
    modify_to_mutations,
    mutation_stream_violations,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_mutations_with_modify,
    top_n_levels_from_price_updates,
    snapshot_columns,
)
from naive_book import top_n, top_n_keyed

SCHEMA3 = StructType([
    StructField("seq", LongType()),
    StructField("is_bid", BooleanType()),
    StructField("price", LongType()),
    StructField("qty", LongType()),
])
SCHEMA5 = StructType(SCHEMA3.fields + [
    StructField("prev_price", LongType()),
    StructField("prev_qty", LongType()),
])


def by_seq(df, cols):
    return {r["seq"]: tuple(r[c] for c in cols) for r in df.collect()}


def modify_books(spark, rows, n):
    """The naive book of modify ``rows``, and the naive book of their
    collected ``modify_to_mutations`` deltas. ``top_n`` keeps the state after
    a seq's last delta, and both orders of a modify's two legs are valid on
    a valid stream."""
    deltas = modify_to_mutations(spark.createDataFrame(rows, SCHEMA5)).collect()
    return (top_n(rows, "modify", n),
            top_n([tuple(r) for r in deltas], "mutations", n))


def gen_updates(rng, m, n_prices=12):
    rows = []
    for s in range(m):
        rows.append((s, rng.random() < 0.5, rng.randrange(1, n_prices + 1),
                     rng.randrange(0, 8)))
    return rows


def gen_mutations(rng, m, n_prices=10):
    """Valid random mutation stream: track the book, delete only what exists."""
    book = {}
    rows = []
    for s in range(m):
        b = rng.random() < 0.5
        live = [(bb, p) for (bb, p), q in book.items() if bb == b and q > 0]
        if live and rng.random() < 0.45:
            bb, p = rng.choice(live)
            q = -rng.randrange(1, book[(bb, p)] + 1)
        else:
            p = rng.randrange(1, n_prices + 1)
            q = rng.randrange(1, 9)
        book[(b, p)] = book.get((b, p), 0) + q
        rows.append((s, b, p, q))
    return rows


@pytest.mark.parametrize("n", [1, 3])
@pytest.mark.parametrize("seed", [7, 42])
def test_differential_mutations(spark, n, seed):
    rows = gen_mutations(random.Random(seed), 300)
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(n)
    a = by_seq(top_n_levels_from_price_mutations(df, n=n), cols)
    assert a == top_n(rows, "mutations", n)


@pytest.mark.parametrize("n", [1, 3])
@pytest.mark.parametrize("seed", [7, 42])
def test_differential_updates(spark, n, seed):
    rows = gen_updates(random.Random(seed), 300)
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(n)
    a = by_seq(top_n_levels_from_price_updates(df, n=n), cols)
    assert a == top_n(rows, "updates", n)


def test_differential_mutations_grouped(spark):
    rng = random.Random(3)
    schema = StructType([StructField("book", LongType())] + SCHEMA3.fields)
    rows = []
    for book in range(4):
        for r in gen_mutations(rng, 120):
            rows.append((book, *r))
    df = spark.createDataFrame(rows, schema)
    cols = snapshot_columns(2)
    a = {(r["book"], r["seq"]): tuple(r[c] for c in cols)
         for r in top_n_levels_from_price_mutations(df, by=["book"], n=2).collect()}
    assert a == top_n_keyed(rows, "mutations", 2)


def test_modify_to_mutations_explode(spark):
    """Ladder-walk modify stream: the book of the modify rows equals the
    book of their exploded deltas."""
    rows = [
        (1, True, 1, 10, None, None), (2, False, 6, 60, None, None),
        (3, True, 2, 10, 1, 10), (4, False, 5, 60, 6, 60),
        (5, True, 3, 10, 2, 10), (6, False, 4, 60, 5, 60),
    ]
    a, b = modify_books(spark, rows, 1)
    assert a == b


def test_violation_detector_flags_what_the_fold_raises_on(spark):
    """Where the fold raises (delete-on-missing, over-delete), the
    relational validator must flag the same seqs; valid streams yield none."""
    invalid = [
        (1, True, 5, 3),     # add 3@5
        (2, True, 7, -1),    # delete on missing level 7  -> violation
        (3, True, 5, -4),    # over-delete (3 available)  -> violation
        (4, False, 9, 2),    # valid ask add
        (5, None, 9, 2),     # null is_bid                -> violation
    ]
    df = spark.createDataFrame(invalid, SCHEMA3)
    flagged = {r["seq"]: r["reason"] for r in mutation_stream_violations(df).collect()}
    assert flagged == {2: "negative_level", 3: "negative_level", 5: "null_field"}
    df = df.where("seq < 5")  # drop the null row for the fold-raise check below

    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        top_n_levels_from_price_mutations(df, n=1).collect()
    assert "Level not found" in str(exc.value) or "Qty exceeds" in str(exc.value)

    valid = gen_mutations(random.Random(1), 200)
    vdf = spark.createDataFrame(valid, SCHEMA3)
    assert mutation_stream_violations(vdf).count() == 0


def test_modify_zero_delta_events_keep_snapshot_rows(spark):
    """Events whose net delta is zero (pure no-op q=0 with null prevs, and a
    qty-only modify with q == prev_qty) must survive the explode, so the
    delta stream still has a snapshot row per input event."""
    rows = [
        (1, True, 5, 10, None, None),   # add 10@5
        (2, True, 7, 0, None, None),    # pure no-op (ref: update.rs:120)
        (3, True, 5, 10, None, 10),     # qty-only modify, q == prev_qty -> net 0
        (4, False, 9, 3, None, None),   # add 3@9 ask
        (5, True, 6, 10, 5, 10),        # full modify 5 -> 6
    ]
    a, b = modify_books(spark, rows, 2)
    assert set(b) == {1, 2, 3, 4, 5}
    assert a == b


def test_construction_triggers_zero_jobs(spark):
    """Building a fold plan runs no Spark job: no eager min/max, count or
    schema probe re-executes the upstream plan once per build (expensive
    when the input is an explode pipeline). Pinned for the three fold
    constructors, unkeyed and keyed."""
    rows = gen_mutations(random.Random(3), 120)
    df = spark.createDataFrame(rows, SCHEMA3)
    keyed = df.selectExpr("seq % 3 AS book", "*")
    modify = df.selectExpr(
        "*", "CAST(NULL AS BIGINT) AS prev_price", "CAST(NULL AS BIGINT) AS prev_qty")
    sc = spark.sparkContext
    # StatusTracker job ids are monotonically increasing; no new ids => no jobs
    n_before = max([-1, *(sc.statusTracker().getJobIdsForGroup(None) or [])])
    outs = []
    for by in (None, ["book"]):
        src = keyed if by else df
        outs += [
            top_n_levels_from_price_updates(src, by=by, n=2),
            top_n_levels_from_price_mutations(src, by=by, n=2),
            top_n_levels_from_price_mutations_with_modify(
                modify.selectExpr("seq % 3 AS book", "*") if by else modify,
                prev_price="prev_price", prev_qty="prev_qty", by=by, n=2),
        ]
    n_after = max([-1, *(sc.statusTracker().getJobIdsForGroup(None) or [])])
    assert n_after == n_before, "a fold constructor ran a Spark job at construction"
    # and the lazily-built plan still computes the right thing
    a = by_seq(outs[1], snapshot_columns(2))
    assert a == top_n(rows, "mutations", 2)


def test_modify_to_mutations_invalid_row_fails_loudly(spark):
    """A modify row matching no decision-table branch (prev_price set,
    prev_qty null) must raise like strategy A, not silently vanish."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [(1, True, 10, 5, 9, None)],
        "seq long, is_bid boolean, price long, qty long, "
        "prev_price long, prev_qty long",
    )
    with _pytest.raises(SparkRuntimeException, match="invalid modify event at seq 1"):
        modify_to_mutations(df).collect()


def test_modify_to_mutations_rejects_what_the_fold_rejects(spark):
    """r8 self-review (execution-confirmed): a negative new qty with
    non-null prevs matched branch 1 of BOTH deltas and silently emitted a
    negative add; a NULL qty with non-null prevs emitted only the delete
    leg. The fold raises on both (ref update.rs:158-162) — the explode must
    too."""
    import pytest as _pt

    base = [(1, True, 10, 1, None, None)]
    for bad in [
        (2, True, 12, -3, 10, 1),   # negative new qty, full modify
        (2, True, 12, None, 10, 1), # null qty with non-null prevs
        (2, True, None, 2, 10, 1),  # null price
    ]:
        df = spark.createDataFrame(base + [bad], SCHEMA5)
        with _pt.raises(Exception, match="invalid modify event"):
            modify_to_mutations(df).collect()
    # the valid ladder-walk stream still explodes cleanly
    ok = spark.createDataFrame(
        base + [(2, True, 12, 1, 10, 1)], SCHEMA5)
    assert modify_to_mutations(ok).count() == 3


def test_modify_negative_qty_null_prevs_is_plain_delete(spark):
    """r9 ADVICE fix: (qty<0, prev_price=None, prev_qty=None) is the
    reference's `(Less, None, None) => delete_qty(abs)` arm (ref
    update.rs:141-147), NOT the negative-qty panic (which requires a
    non-null prev, ref update.rs:158). The explode must emit a single
    negative delta, and the deltas must fold to the modify stream's book
    (qty 5 -> 2 after deleting 3)."""
    rows = [
        (1, True, 10, 5, None, None),   # add 5 @ 10
        (2, True, 10, -3, None, None),  # plain delete of 3 @ 10
    ]
    df = spark.createDataFrame(rows, SCHEMA5)
    deltas = modify_to_mutations(df).collect()
    assert len(deltas) == 2
    d2 = [r for r in deltas if r["seq"] == 2]
    assert len(d2) == 1 and (d2[0]["price"], d2[0]["qty"]) == (10, -3)
    a, b = modify_books(spark, rows, 1)
    assert a == b
    assert a[2] == (10, 2, None, None)
