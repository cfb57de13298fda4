"""Differential tests: strategy A (pandas fold) vs strategy B (relational),
mirroring the reference's own Simple-vs-Tracked differential pattern
(ref: order_book/tests/book_side_tests.rs)."""

import random

import pytest

from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from polars_order_book_spark import (
    modify_to_mutations,
    mutation_stream_violations,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_updates,
    top_n_levels_relational,
    snapshot_columns,
)

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
    b = by_seq(top_n_levels_relational(df, n=n, variant="mutations"), cols)
    assert a == b


@pytest.mark.parametrize("seq_buckets", [2, 3, 7])
@pytest.mark.parametrize("variant", ["mutations", "updates"])
def test_differential_tiny_bucket_counts(spark, variant, seq_buckets):
    """Hammer the segmented scan's carry-in: tiny bucket counts cut the
    stream mid-flight, so every level's running aggregate crosses multiple
    bucket boundaries."""
    rng = random.Random(13)
    rows = gen_mutations(rng, 240) if variant == "mutations" else gen_updates(rng, 240)
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(2)
    maker = (top_n_levels_from_price_mutations if variant == "mutations"
             else top_n_levels_from_price_updates)
    a = by_seq(maker(df, n=2), cols)
    b = by_seq(
        top_n_levels_relational(df, n=2, variant=variant, seq_buckets=seq_buckets),
        cols,
    )
    assert a == b


@pytest.mark.parametrize("n", [1, 3])
@pytest.mark.parametrize("seed", [7, 42])
def test_differential_updates(spark, n, seed):
    rows = gen_updates(random.Random(seed), 300)
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(n)
    a = by_seq(top_n_levels_from_price_updates(df, n=n), cols)
    b = by_seq(top_n_levels_relational(df, n=n, variant="updates"), cols)
    assert a == b


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
    b = {(r["book"], r["seq"]): tuple(r[c] for c in cols)
         for r in top_n_levels_relational(df, by=["book"], n=2, variant="mutations").collect()}
    assert a == b


def test_modify_to_mutations_explode(spark):
    """Ladder-walk modify stream -> exploded deltas -> relational == fold."""
    rows = [
        (1, True, 1, 10, None, None), (2, False, 6, 60, None, None),
        (3, True, 2, 10, 1, 10), (4, False, 5, 60, 6, 60),
        (5, True, 3, 10, 2, 10), (6, False, 4, 60, 5, 60),
    ]
    from polars_order_book_spark import top_n_levels_from_price_mutations_with_modify

    df = spark.createDataFrame(rows, SCHEMA5)
    cols = snapshot_columns(1)
    a = by_seq(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=1), cols)
    deltas = modify_to_mutations(df)
    b = by_seq(top_n_levels_relational(deltas, n=1, variant="mutations"), cols)
    assert a == b


def test_violation_detector_flags_what_the_fold_raises_on(spark):
    """Where strategy A raises (delete-on-missing, over-delete), the
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
    qty-only modify with q == prev_qty) must still emit a snapshot row in
    strategy B — one output row per input event, like strategy A."""
    rows = [
        (1, True, 5, 10, None, None),   # add 10@5
        (2, True, 7, 0, None, None),    # pure no-op (ref: update.rs:120)
        (3, True, 5, 10, None, 10),     # qty-only modify, q == prev_qty -> net 0
        (4, False, 9, 3, None, None),   # add 3@9 ask
        (5, True, 6, 10, 5, 10),        # full modify 5 -> 6
    ]
    from polars_order_book_spark import top_n_levels_from_price_mutations_with_modify

    df = spark.createDataFrame(rows, SCHEMA5)
    cols = snapshot_columns(2)
    a = by_seq(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=2), cols)
    deltas = modify_to_mutations(df)
    b = by_seq(top_n_levels_relational(deltas, n=2, variant="mutations"), cols)
    assert set(b) == {1, 2, 3, 4, 5}
    assert a == b


def test_construction_triggers_zero_jobs(spark):
    """The segmented-scan builder must be fully lazy: bucket bounds come from
    a broadcast 1-row aggregate inside the plan, not an eager min/max job at
    construction (r3 verdict item — an eager job re-executes the upstream
    plan once per build, expensive when the input is an explode pipeline)."""
    rows = gen_mutations(random.Random(3), 120)
    df = spark.createDataFrame(rows, SCHEMA3)
    sc = spark.sparkContext
    # StatusTracker job ids are monotonically increasing; no new ids => no jobs
    n_before = max([-1, *(sc.statusTracker().getJobIdsForGroup(None) or [])])
    out = top_n_levels_relational(df, n=2, variant="mutations", seq_buckets=8)
    n_after = max([-1, *(sc.statusTracker().getJobIdsForGroup(None) or [])])
    assert n_after == n_before, "top_n_levels_relational ran a Spark job at construction"
    # and the lazily-built plan still computes the right thing
    a = by_seq(top_n_levels_from_price_mutations(df, n=2), snapshot_columns(2))
    b = by_seq(out, snapshot_columns(2))
    assert a == b


def test_relational_null_by_key_fails_loudly(spark):
    """Strategy B's equi-joins drop null keys; rather than return silent
    all-null snapshots (diverging from strategy A's eqNullSafe books), the
    plan must fail per offending row."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [("A", 1, True, 10, 5), (None, 2, True, 11, 3)],
        "book string, seq long, is_bid boolean, price long, qty long",
    )
    out = top_n_levels_relational(df, variant="mutations", by=["book"], n=1)
    with _pytest.raises(SparkRuntimeException, match="non-null"):
        out.collect()


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
    negative delta, and strategy A and B must agree on the resulting book
    (qty 5 -> 2 after deleting 3)."""
    from polars_order_book_spark import top_n_levels_from_price_mutations_with_modify

    rows = [
        (1, True, 10, 5, None, None),   # add 5 @ 10
        (2, True, 10, -3, None, None),  # plain delete of 3 @ 10
    ]
    df = spark.createDataFrame(rows, SCHEMA5)
    deltas = modify_to_mutations(df).collect()
    assert len(deltas) == 2
    d2 = [r for r in deltas if r["seq"] == 2]
    assert len(d2) == 1 and (d2[0]["price"], d2[0]["qty"]) == (10, -3)
    cols = snapshot_columns(1)
    a = by_seq(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=1), cols)
    b = by_seq(
        top_n_levels_relational(
            modify_to_mutations(df), n=1, variant="mutations"), cols)
    assert a == b
    assert a[2] == (10, 2, None, None)
