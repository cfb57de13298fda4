"""The batch fold against the Spark-free naive reference (``naive_book``),
across every boundary the streamed plan has: Arrow batches (a book's events
split over many batches, a key change inside a batch), keyed runs, the null
book key, Column inputs and the error contract. The fold carries each book
across Arrow batches in one ``mapInPandas`` pass, so a bug in that hand-off
shows up here as a snapshot that differs from recomputing the top-N from
scratch on every row."""

import re
from contextlib import contextmanager

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql.types import LongType, StructField, StructType

from polars_order_book_spark import (
    OrderBookError,
    snapshot_columns,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_mutations_with_modify,
    top_n_levels_from_price_updates,
)

from naive_book import top_n, top_n_keyed
from test_property_differential import (
    SCHEMA3,
    SCHEMA5,
    SETTINGS,
    by_seq,
    modify_stream,
    mutation_stream,
)

KEYED_SCHEMA = StructType([StructField("book", LongType())] + SCHEMA3.fields)


@contextmanager
def _arrow_batch_rows(spark, rows: int):
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(rows))
    try:
        yield
    finally:
        spark.conf.set(conf, old)


@settings(**SETTINGS)
@given(rows=mutation_stream(), n=st.sampled_from([1, 2]))
def test_property_fold_matches_naive_mutations(spark, rows, n):
    df = spark.createDataFrame(rows, SCHEMA3)
    got = by_seq(top_n_levels_from_price_mutations(df, n=n), snapshot_columns(n))
    assert got == top_n(rows, "mutations", n)


@settings(**SETTINGS)
@given(rows=modify_stream())
def test_property_fold_matches_naive_modify(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA5)
    got = by_seq(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=2
        ),
        snapshot_columns(2),
    )
    assert got == top_n(rows, "modify", 2)


def _keyed_rows():
    # Two books with interleaved adds/deletes; deterministic and valid.
    rows = []
    for bk in (0, 1):
        live = {}
        for s in range(40):
            b = (s + bk) % 2 == 0
            p = 1 + (s * 3 + bk) % 7
            q = 1 + s % 4
            if (b, p) in live and s % 5 == 0:
                q = -min(live[(b, p)], q)
            live[(b, p)] = live.get((b, p), 0) + q
            if live[(b, p)] == 0:
                del live[(b, p)]
            rows.append((bk, s, b, p, q))
    return rows


def _collect_keyed(df, n):
    cols = snapshot_columns(n)
    return {(r["book"], r["seq"]): tuple(r[c] for c in cols) for r in df.collect()}


def test_chunked_keyed_and_tiny_chunks(spark):
    """Two books with the same seqs fold independently."""
    rows = _keyed_rows()
    df = spark.createDataFrame(rows, KEYED_SCHEMA)
    got = _collect_keyed(top_n_levels_from_price_mutations(df, by=["book"], n=2), 2)
    assert got == top_n_keyed(rows, "mutations", 2)


def test_chunked_updates_unkeyed(spark):
    rows = [(s, s % 2 == 0, 1 + s % 5, s % 4) for s in range(60)]
    df = spark.createDataFrame(rows, SCHEMA3)
    got = by_seq(top_n_levels_from_price_updates(df, n=3), snapshot_columns(3))
    assert got == top_n(rows, "updates", 3)


def test_chunked_error_contract_crosses_chunks(spark):
    """An over-delete whose level was consumed in an EARLIER Arrow batch must
    still raise: the book carries across batches, so batch 2 sees batch 1's
    book. The naive reference raises the same error."""
    rows = [
        (0, True, 5, 3),   # add 3@5            (batch 0)
        (1, True, 5, -3),  # delete all         (batch 0)
        (2, True, 7, 1),   # unrelated add      (batch 1)
        (3, True, 5, -1),  # over-delete: level 5 is gone (batch 1)
    ]
    with pytest.raises(OrderBookError, match="Level not found"):
        top_n(rows, "mutations", 1)
    out = top_n_levels_from_price_mutations(spark.createDataFrame(rows, SCHEMA3), n=1)
    with _arrow_batch_rows(spark, 2), pytest.raises(Exception) as ei:
        out.collect()
    assert "Level not found" in str(ei.value)


def test_float64_rounded_tick_raises(spark):
    """A nullable long column that holds a null crosses into pandas as
    float64, which rounds 2**53 + 1 to 2**53. Moving 5 off level 2**53 + 1
    must not silently delete from level 2**53 instead: the fold raises."""
    big = 2**53
    rows = [
        (0, True, big, 5, None, None),
        (1, True, big + 1, 5, None, None),
        (2, True, big + 2, 5, big + 1, 5),  # move 5 from big+1 to big+2
    ]
    assert top_n(rows, "modify", 2)[2][4] == big  # bid_price_2
    out = top_n_levels_from_price_mutations_with_modify(
        spark.createDataFrame(rows, SCHEMA5),
        prev_price="prev_price", prev_qty="prev_qty", n=2,
    )
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "'prev_price'" in str(ei.value) and "2**53" in str(ei.value)


def test_float64_rounded_book_key_raises(spark):
    """A null book key sends the key column to pandas as float64, where
    2**53 and 2**53 + 1 are one value: the fold raises instead of folding
    the two books as one (book 2**53 + 1 would report bid_price_2 = 7)."""
    big = 2**53
    rows = [(None, 0, True, 5, 1), (big, 1, True, 7, 1), (big + 1, 2, True, 9, 1)]
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1")  # all three books in one Arrow batch
    try:
        out = top_n_levels_from_price_updates(
            spark.createDataFrame(rows, KEYED_SCHEMA), by=["book"], n=2
        )
        with pytest.raises(Exception) as ei:
            out.collect()
    finally:
        spark.conf.set(conf, old)
    assert "'book'" in str(ei.value) and "2**53" in str(ei.value)


TS_SCHEMA = StructType(SCHEMA3.fields + [StructField("ts", LongType())])
TS = 1700000000000000001


def test_float64_rounded_pass_through_raises(spark):
    """A pass-through bigint holding a null reaches pandas as float64, which
    reads 1700000000000000001 as ...000: the fold raises instead."""
    rows = [(0, True, 5, 1, None), (1, True, 6, 1, TS)]
    out = top_n_levels_from_price_mutations(spark.createDataFrame(rows, TS_SCHEMA))
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "'ts'" in str(ei.value) and "2**53" in str(ei.value)


def test_pass_through_long_without_null_is_exact(spark):
    rows = [(0, True, 5, 1, TS - 2), (1, True, 6, 1, TS)]
    out = top_n_levels_from_price_mutations(spark.createDataFrame(rows, TS_SCHEMA))
    assert {r.seq: r.ts for r in out.collect()} == {0: TS - 2, 1: TS}


def _plan(df):
    """Executed plan with expression and plan ids blanked, so the plans of
    separately built DataFrames compare equal when their shape is."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"(#|plan_id=)\d+L?", r"\1", plan)


def test_chunked_seq_chunks_one_is_plain_fold(spark):
    """An unkeyed fold is one book, the zero-key case of the keyed plan: one
    exchange into ONE partition, one sort on seq alone (no synthetic book
    column) and one MapInPandas. The retired ``seq_chunks`` argument is
    rejected."""
    rows = [(s, True, 1 + s % 3, 1) for s in range(10)]
    df = spark.createDataFrame(rows, SCHEMA3)
    default = top_n_levels_from_price_mutations(df, n=1)
    plan = _plan(default)
    assert "Exchange SinglePartition" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert "Sort [seq# ASC NULLS FIRST]" in plan, plan
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan, plan
    assert by_seq(default, snapshot_columns(1)) == top_n(rows, "mutations", 1)
    with pytest.raises(TypeError):
        top_n_levels_from_price_mutations(df, n=1, seq_chunks=4)


def test_keyed_default_stays_group_fold(spark):
    """A keyed fold still folds each book as its own group, in one pass:
    one exchange on the book keys without a count (REPARTITION_BY_COL,
    which AQE coalesces), one sort and one MapInPandas, not the
    FlatMapGroupsInPandas plan. The retired ``seq_chunks`` argument is
    rejected."""
    keyed = spark.createDataFrame(
        [(s % 2, s, True, 1 + s % 3, 1) for s in range(10)], KEYED_SCHEMA
    )
    plan = _plan(top_n_levels_from_price_mutations(keyed, by=["book"], n=1))
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert "Exchange hashpartitioning(book#" in exchanges[0], plan
    assert "REPARTITION_BY_COL" in exchanges[0], plan
    assert plan.count("Sort [") == 1, plan
    with pytest.raises(TypeError):
        top_n_levels_from_price_mutations(keyed, by=["book"], n=1, seq_chunks=4)


def test_chunked_accepts_column_expressions(spark):
    """IntoExpr-style Column inputs thread through the fold as temp columns
    and do not leak into the output."""
    from pyspark.sql import functions as F

    rows = [(s, "B" if s % 2 == 0 else "A", 1.0 + (s % 4) * 0.01, 2) for s in range(30)]
    df = spark.createDataFrame(rows, ["seq", "side", "price_f", "qty"])
    out = top_n_levels_from_price_mutations(
        df,
        price=F.round(F.col("price_f") * 100).cast("long"),
        qty=F.col("qty"),
        is_bid=F.col("side") == "B",
        n=2,
    )
    assert not [c for c in out.columns if c.startswith("__")]
    want = top_n(
        [(s, side == "B", int(round(pf * 100)), q) for s, side, pf, q in rows],
        "mutations", 2,
    )
    assert by_seq(out, snapshot_columns(2)) == want


def test_chunked_state_carries_across_arrow_batches(spark):
    """The streamed fold's correctness hinges on carrying book state across
    Arrow batches within a partition. Force tiny batches
    (maxRecordsPerBatch=7) so every book spans many batches and a book
    boundary lands mid-batch."""
    rows = _keyed_rows()
    df = spark.createDataFrame(rows, KEYED_SCHEMA)
    with _arrow_batch_rows(spark, 7):
        got = _collect_keyed(
            top_n_levels_from_price_mutations(df, by=["book"], n=2), 2
        )
    assert got == top_n_keyed(rows, "mutations", 2)


def test_chunked_null_book_key_matches_unchunked(spark):
    """A null book key is a book of its own (groupBy's null-group semantics):
    keys compare null-safely, also when the null-key book spans Arrow
    batches (maxRecordsPerBatch=7), instead of dropping the null-key book or
    restarting it at every batch."""
    rows = [(None, s, True, 1 + s % 3, 1) for s in range(10)]
    rows += [(1, s, True, 1 + s % 3, 1) for s in range(10)]
    df = spark.createDataFrame(rows, KEYED_SCHEMA)
    with _arrow_batch_rows(spark, 7):
        got = _collect_keyed(
            top_n_levels_from_price_mutations(df, by=["book"], n=1), 1
        )
    assert got == top_n_keyed(rows, "mutations", 1)
    assert any(k[0] is None for k in got)  # the null book is present
