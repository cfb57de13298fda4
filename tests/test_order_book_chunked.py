"""Chunked batch fold (``seq_chunks=``) must be byte-identical to the
unchunked fold — it only changes WHERE state lives (chained across seq-range
chunks, like the streaming operator chains it across micro-batches), never
the semantics. Covers the group-size-ceiling fix from SCALE.md."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from polars_order_book_spark import (
    OrderBookError,
    snapshot_columns,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_mutations_with_modify,
    top_n_levels_from_price_updates,
)

from test_property_differential import (
    SCHEMA3,
    SCHEMA5,
    SETTINGS,
    by_seq,
    modify_stream,
    mutation_stream,
)

KEYED_SCHEMA = StructType([StructField("book", LongType())] + SCHEMA3.fields)


@settings(**SETTINGS)
@given(rows=mutation_stream(), k=st.sampled_from([2, 5]))
def test_property_chunked_equals_unchunked_mutations(spark, rows, k):
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(2)
    base = by_seq(top_n_levels_from_price_mutations(df, n=2), cols)
    chunked = by_seq(top_n_levels_from_price_mutations(df, n=2, seq_chunks=k), cols)
    assert chunked == base


@settings(**SETTINGS)
@given(rows=modify_stream())
def test_property_chunked_equals_unchunked_modify(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA5)
    cols = snapshot_columns(2)
    base = by_seq(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=2
        ),
        cols,
    )
    chunked = by_seq(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=2, seq_chunks=3
        ),
        cols,
    )
    assert chunked == base


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
    cols = ["book", "seq"] + snapshot_columns(n)
    return {(r["book"], r["seq"]): tuple(r[c] for c in cols) for r in df.collect()}


def test_chunked_keyed_and_tiny_chunks(spark):
    df = spark.createDataFrame(_keyed_rows(), KEYED_SCHEMA)
    base = _collect_keyed(top_n_levels_from_price_mutations(df, by=["book"], n=2), 2)
    # more chunks than any book's span: every chunk holds <= a couple events
    for k in (3, 12):
        chunked = _collect_keyed(
            top_n_levels_from_price_mutations(df, by=["book"], n=2, seq_chunks=k), 2
        )
        assert chunked == base


def test_chunked_updates_unkeyed(spark):
    rows = [(s, s % 2 == 0, 1 + s % 5, s % 4) for s in range(60)]
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(3)
    base = by_seq(top_n_levels_from_price_updates(df, n=3), cols)
    chunked = by_seq(top_n_levels_from_price_updates(df, n=3, seq_chunks=4), cols)
    assert chunked == base


def test_chunked_error_contract_crosses_chunks(spark):
    """An over-delete whose level was consumed in an EARLIER chunk must still
    raise: state chains across chunks, so chunk 2 sees chunk 1's book."""
    rows = [
        (0, True, 5, 3),   # add 3@5            (chunk 0)
        (1, True, 5, -3),  # delete all         (chunk 0)
        (2, True, 7, 1),   # unrelated add      (chunk 1)
        (3, True, 5, -1),  # over-delete: level 5 is gone (chunk 1)
    ]
    df = spark.createDataFrame(rows, SCHEMA3)
    out = top_n_levels_from_price_mutations(df, n=1, seq_chunks=2)
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "Level not found" in str(ei.value)


def test_chunked_seq_chunks_one_is_plain_fold(spark):
    """Path-selection contract: seq_chunks=1 forces the single-pass group
    fold (FlatMapGroupsInPandas — the differential twin), while the UNKEYED
    default (seq_chunks=None) takes the bounded-memory MapInPandas plan
    (the groupBy single-group fold measured superlinear at 10M events,
    BENCH_LOCAL_sf10.json), exchanged into ONE partition: one book is one
    Python task, not a shuffle-width of mostly empty ones. Results are
    byte-identical either way."""
    rows = [(s, True, 1 + s % 3, 1) for s in range(10)]
    df = spark.createDataFrame(rows, SCHEMA3)
    cols = snapshot_columns(1)
    forced = top_n_levels_from_price_mutations(df, n=1, seq_chunks=1)
    default = top_n_levels_from_price_mutations(df, n=1)
    assert by_seq(forced, cols) == by_seq(default, cols)
    forced_plan = forced._jdf.queryExecution().executedPlan().toString()
    default_plan = default._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in forced_plan
    assert "MapInPandas" in default_plan
    assert "FlatMapGroupsInPandas" not in default_plan
    assert "Exchange SinglePartition" in default_plan, default_plan


def test_keyed_default_stays_group_fold(spark):
    """KEYED folds keep groupBy().applyInPandas() by default — books
    parallelize across groups; the bounded path stays opt-in there."""
    rows = [(s, s % 2, True, 1 + s % 3, 1) for s in range(10)]
    df = spark.createDataFrame(rows, "seq long, book long, is_bid boolean, price long, qty long")
    out = top_n_levels_from_price_mutations(df, by=["book"], n=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_chunked_accepts_column_expressions(spark):
    """seq_chunks composes with IntoExpr-style Column inputs: the temp expr
    columns must thread through the chunk rounds and not leak into output."""
    from pyspark.sql import functions as F

    rows = [(s, "B" if s % 2 == 0 else "A", 1.0 + (s % 4) * 0.01, 2) for s in range(30)]
    df = spark.createDataFrame(rows, ["seq", "side", "price_f", "qty"])
    kwargs = dict(
        price=F.round(F.col("price_f") * 100).cast("long"),
        qty=F.col("qty"),
        is_bid=F.col("side") == "B",
        n=2,
    )
    base = top_n_levels_from_price_mutations(df, **kwargs)
    chunked = top_n_levels_from_price_mutations(df, seq_chunks=3, **kwargs)
    assert not [c for c in chunked.columns if c.startswith("__")]
    cols = snapshot_columns(2)
    assert by_seq(chunked, cols) == by_seq(base, cols)


def test_chunked_state_carries_across_arrow_batches(spark):
    """The streamed fold's correctness hinges on carrying book state across
    Arrow batches within a partition. Force tiny batches
    (maxRecordsPerBatch=7) so every book spans many batches and a book
    boundary can land mid-batch, then pin byte-equality with the unchunked
    fold."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        df = spark.createDataFrame(_keyed_rows(), KEYED_SCHEMA)
        base = _collect_keyed(
            top_n_levels_from_price_mutations(df, by=["book"], n=2), 2
        )
        chunked = _collect_keyed(
            top_n_levels_from_price_mutations(df, by=["book"], n=2, seq_chunks=2), 2
        )
        assert chunked == base
    finally:
        spark.conf.set(conf, old)


def test_chunked_null_book_key_matches_unchunked(spark):
    """Null book keys form a group in groupBy; the chunked path's bounds join
    must match them null-safely instead of dropping the null-key book."""
    rows = [(None, s, True, 1 + s % 3, 1) for s in range(10)]
    rows += [(1, s, True, 1 + s % 3, 1) for s in range(10)]
    df = spark.createDataFrame(rows, KEYED_SCHEMA)
    base = _collect_keyed(top_n_levels_from_price_mutations(df, by=["book"], n=1), 1)
    chunked = _collect_keyed(
        top_n_levels_from_price_mutations(df, by=["book"], n=1, seq_chunks=3), 1
    )
    assert chunked == base
    assert any(k[0] is None for k in chunked)  # the null book is present
