"""Streaming continuous book == batch fold, across micro-batch boundaries.

Feeds the same event sequence to (a) the batch operator and (b) the
Structured Streaming operator split into multiple micro-batches (one parquet
file per trigger via maxFilesPerTrigger=1), asserting identical per-event
snapshots. This pins the state hand-off in ``_fold_arrays(bids=…, asks=…)``:
a book must resume mid-stream exactly where the previous micro-batch left it.
"""

import os
import shutil
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_order_book_spark import top_n_levels_from_price_mutations
from polars_order_book_spark.operators.order_book import (
    OrderBookError,
    snapshot_columns,
)
from polars_order_book_spark.streaming import top_n_levels_stream
from tests.conftest import rows_by_seq

EVENT_SCHEMA = StructType(
    [
        StructField("product_id", StringType(), False),
        StructField("seq", LongType(), False),
        StructField("is_bid", BooleanType(), False),
        StructField("price", LongType(), False),
        StructField("qty", LongType(), False),
    ]
)


def _mutation_events():
    """Two products, add/delete churn that moves the best level around."""
    rows = []
    for prod in ("A", "B"):
        base = 100 if prod == "A" else 500
        s = 0
        for price, qty in [
            (base + 1, 5), (base + 2, 3), (base + 3, 7), (base + 2, -3),
            (base + 4, 2), (base + 1, -5), (base + 3, -7), (base + 4, -2),
            (base + 5, 9), (base + 6, 1),
        ]:
            for bid in (True, False):
                rows.append((prod, s, bid, price + (0 if bid else 50), qty))
                s += 1
    return rows


@pytest.mark.parametrize("n", [1, 2])
def test_stream_matches_batch_across_microbatches(spark, n, tmp_path):
    rows = _mutation_events()
    batch_df = spark.createDataFrame(rows, EVENT_SCHEMA)
    expected = rows_by_seq(
        top_n_levels_from_price_mutations(
            batch_df, by=["product_id"], n=n
        ).withColumn("k", F.concat_ws("|", "product_id", "seq")),
        seq="k",
    )

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    # 3 chronological chunks -> 3 micro-batches (maxFilesPerTrigger=1,
    # file source orders by modification time).
    chunks = [rows[0:13], rows[13:27], rows[27:]]
    for i, chunk in enumerate(chunks):
        part = os.path.join(tmp, f"part_{i}")
        spark.createDataFrame(chunk, EVENT_SCHEMA).coalesce(1).write.parquet(part)
        pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(part, pq), os.path.join(in_dir, f"{i:03d}.parquet"))
        time.sleep(1.1)  # distinct mtimes => deterministic file order

    stream_in = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    snaps = top_n_levels_stream(
        stream_in, "mutations", by=["product_id"], n=n
    )
    q = (
        snaps.writeStream.format("memory")
        .queryName(f"book_snaps_{n}")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = rows_by_seq(
        spark.table(f"book_snaps_{n}").withColumn(
            "k", F.concat_ws("|", "product_id", "seq")
        ),
        seq="k",
    )

    assert set(got) == set(expected)
    snap_cols = [c for c in next(iter(expected.values())) if c.startswith(("bid_", "ask_"))]
    for k, exp in expected.items():
        for c in snap_cols:
            assert got[k][c] == exp[c], f"{k}.{c}: {got[k][c]} != {exp[c]}"


def test_stream_updates_variant_matches_batch(spark, tmp_path):
    """Set-level (updates) variant through the streaming path: one
    micro-batch, parity with the batch operator including qty=0 deletes."""
    from polars_order_book_spark import top_n_levels_from_price_updates

    rows = []
    for s in range(40):
        price = 100 + (s % 5)
        qty = 0 if s % 7 == 6 else (s % 9)  # includes set-to-zero deletes
        rows.append(("A", s, s % 2 == 0, price, qty))
    batch_df = spark.createDataFrame(rows, EVENT_SCHEMA)
    expected = rows_by_seq(top_n_levels_from_price_updates(batch_df, by=["product_id"], n=2))

    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    part = os.path.join(tmp, "part")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(part)
    pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(part, pq), os.path.join(in_dir, "000.parquet"))
    stream_in = spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir)
    snaps = top_n_levels_stream(stream_in, "updates", by=["product_id"], n=2)
    q = (
        snaps.writeStream.format("memory")
        .queryName("book_snaps_upd")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = rows_by_seq(spark.table("book_snaps_upd"))

    snap_cols = [c for c in next(iter(expected.values())) if c.startswith(("bid_", "ask_"))]
    assert set(got) == set(expected)
    for k, exp in expected.items():
        for c in snap_cols:
            assert got[k][c] == exp[c], f"{k}.{c}: {got[k][c]} != {exp[c]}"


def test_stream_multichunk_microbatch_folds_in_seq_order(spark, tmp_path):
    """One micro-batch larger than arrow.maxRecordsPerBatch arrives at the
    state fold as MULTIPLE pandas chunks; events must be folded in seq order
    across chunks, not per-chunk. Input is written in reverse-seq order so a
    per-chunk sort (the old bug) deterministically corrupts the book."""
    rows = []
    for s in range(60):
        # alternating add/delete churn on one product; valid in seq order only
        if s % 2 == 0:
            rows.append(("A", s, True, 100 + (s % 7), 5))
        else:
            rows.append(("A", s, True, 100 + ((s - 1) % 7), -5))
    batch_df = spark.createDataFrame(rows, EVENT_SCHEMA)
    expected = rows_by_seq(top_n_levels_from_price_mutations(batch_df, by=["product_id"], n=2))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        part = os.path.join(tmp, "part")
        spark.createDataFrame(list(reversed(rows)), EVENT_SCHEMA).coalesce(1).write.parquet(part)
        pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(part, pq), os.path.join(in_dir, "000.parquet"))

        stream_in = spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir)
        snaps = top_n_levels_stream(stream_in, "mutations", by=["product_id"], n=2)
        q = (
            snaps.writeStream.format("memory")
            .queryName("book_snaps_chunks")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = rows_by_seq(spark.table("book_snaps_chunks"))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    assert set(got) == set(expected)
    snap_cols = [c for c in next(iter(expected.values())) if c.startswith(("bid_", "ask_"))]
    for k, exp in expected.items():
        for c in snap_cols:
            assert got[k][c] == exp[c], f"{k}.{c}: {got[k][c]} != {exp[c]}"


def test_stream_invalid_delete_fails_query(spark, tmp_path):
    """The error contract survives streaming: an over-delete terminates the
    query with the same 'Qty exceeds available' failure the batch fold
    raises (ref: book_side.rs:110)."""
    rows = [("A", 0, True, 100, 3), ("A", 1, True, 100, -5)]
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    part = os.path.join(tmp, "part")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(part)
    pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(part, pq), os.path.join(in_dir, "000.parquet"))
    stream_in = spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir)
    snaps = top_n_levels_stream(stream_in, "mutations", by=["product_id"], n=1)
    q = (
        snaps.writeStream.format("memory")
        .queryName("book_snaps_err")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception) as e:
        q.awaitTermination(120)
    assert "Qty exceeds available" in str(e.value)


def test_stream_requires_keys(spark):
    df = spark.createDataFrame([], EVENT_SCHEMA)
    with pytest.raises(ValueError, match="at least one key"):
        top_n_levels_stream(df, "mutations", by=[])


@pytest.mark.parametrize("col", ["seq", "price", "qty", "prev_price", "prev_qty"])
def test_stream_rejects_float_ticks(spark, col):
    """The fold reads ticks as ints, so a float column (100.7) would fold as
    level 100; the stream refuses it when the query is built, like the batch
    fold."""
    schema = StructType(
        [f if f.name != col else StructField(col, DoubleType(), False)
         for f in EVENT_SCHEMA.fields
         + [StructField("prev_price", LongType(), False),
            StructField("prev_qty", LongType(), False)]]
    )
    df = spark.createDataFrame([], schema)
    with pytest.raises(OrderBookError, match=f"unsupported tick dtype double for column '{col}'"):
        top_n_levels_stream(
            df, "modify", prev_price="prev_price", prev_qty="prev_qty",
            by=["product_id"],
        )


@pytest.mark.parametrize("price_type", [IntegerType(), DecimalType(12, 0)])
def test_stream_snapshot_prices_keep_the_input_price_type(spark, price_type):
    """The stream takes the batch fold's tick contract: non-long ticks fold
    as longs, and snapshot prices come back in the input price type."""
    schema = StructType(
        [f if f.name != "price" else StructField("price", price_type, False)
         for f in EVENT_SCHEMA.fields]
    )
    out = top_n_levels_stream(spark.createDataFrame([], schema), "mutations",
                              by=["product_id"])
    batch = top_n_levels_from_price_mutations(
        spark.createDataFrame([], schema), by=["product_id"]
    )
    for col in ("bid_price_1", "ask_price_1"):
        assert out.schema[col].dataType == price_type, col
        assert batch.schema[col].dataType == price_type, col
    assert out.schema["bid_qty_1"].dataType == LongType()


def _run_stream_batches(spark, tmp, batches, name, n=2, timeout=180,
                        schema=EVENT_SCHEMA):
    """Feed chronological micro-batches (one file per trigger) through the
    stream under directory ``tmp``; return rows_by_seq of the memory sink."""
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    for i, chunk in enumerate(batches):
        part = os.path.join(tmp, f"part_{i}")
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(part)
        pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(part, pq), os.path.join(in_dir, f"{i:03d}.parquet"))
        time.sleep(1.1)
    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    snaps = top_n_levels_stream(
        stream_in, "mutations", by=["product_id"], n=n
    )
    q = (
        snaps.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return rows_by_seq(spark.table(name))


@pytest.mark.parametrize("price_type", [IntegerType(), DecimalType(12, 0)])
def test_stream_narrow_price_types_equal_batch_fold(spark, tmp_path, price_type):
    """Int32 and DECIMAL(12,0) prices fold as longs across micro-batches and
    come back in the input price type, equal to the batch fold."""
    from decimal import Decimal

    schema = StructType(
        [f if f.name != "price" else StructField("price", price_type, False)
         for f in EVENT_SCHEMA.fields]
    )
    cast = Decimal if isinstance(price_type, DecimalType) else int
    rows = [
        (p, s, bid, cast(price), q)
        for p, s, bid, price, q in _mutation_events() if p == "A"
    ]
    golden = top_n_levels_from_price_mutations(
        spark.createDataFrame(rows, schema), by=["product_id"], n=2
    )
    name = f"narrow_price_{price_type.typeName()}"
    got = _run_stream_batches(
        spark, tmp_path, [rows[:10], rows[10:]], name, schema=schema
    )
    for col in ("bid_price_1", "ask_price_2"):
        assert spark.table(name).schema[col].dataType == price_type, col
    snap_cols = [c for c in golden.columns if c.startswith(("bid_", "ask_"))]
    want = rows_by_seq(golden.select("seq", *snap_cols))
    assert {s: {c: r[c] for c in ("seq", *snap_cols)} for s, r in got.items()} == want


def test_stream_in_order_replayed_seq_fails_loudly(spark, tmp_path):
    """Default (in-order) mode: a micro-batch that repeats a seq the book
    already folded must fail the query instead of folding it again."""
    from pyspark.errors import StreamingQueryException

    batches = [
        [("A", 1, True, 10, 3), ("A", 2, True, 10, 2)],
        [("A", 2, True, 10, 2), ("A", 3, True, 10, 1)],  # seq 2 replayed
    ]
    with pytest.raises(StreamingQueryException,
                       match="event seq 2 arrived out of order"):
        _run_stream_batches(spark, tmp_path, batches, "in_order_replay_sink")


def test_stream_in_order_duplicate_seq_in_batch_fails_loudly(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    batches = [[("A", 1, True, 10, 3), ("A", 1, True, 10, 3)]]
    with pytest.raises(StreamingQueryException, match="duplicate event seq 1"):
        _run_stream_batches(spark, tmp_path, batches, "in_order_dup_sink")


def test_stream_restart_from_checkpoint_equals_batch_fold(spark, tmp_path):
    """Stop after the first micro-batch and restart on the same checkpoint:
    each book resumes from the state row the state store saved, so the two
    runs' snapshots together equal the batch fold."""
    from polars_order_book_spark.sources.sinks import (
        append_stream_batch,
        read_stream_batches,
    )

    rows = _mutation_events()
    src, root, ckpt = (str(tmp_path / d) for d in ("src", "data", "ckpt"))

    def run(chunk):
        spark.createDataFrame(chunk, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        snaps = top_n_levels_stream(
            spark.readStream.schema(EVENT_SCHEMA).parquet(src), "mutations",
            by=["product_id"], n=2,
        )
        q = (
            snaps.writeStream.foreachBatch(
                lambda bdf, bid: append_stream_batch(bdf, bid, root)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not finish"

    run(rows[:13])  # book A's seqs 0..12
    state = {
        r["key"]["product_id"]: r["value"]["groupState"].asDict()
        for r in spark.read.format("statestore").load(ckpt).collect()
    }
    # book A after seq 12, by hand: bid 104 x 2; asks 153 x 7, 154 x 2
    assert state == {"A": {
        "bid_prices": [104], "bid_qtys": [2],
        "ask_prices": [153, 154], "ask_qtys": [7, 2], "done": 12,
    }}
    run(rows[13:])  # the rest of book A, then all of book B

    cols = ["product_id", "seq", *snapshot_columns(2)]

    def keyed(df):
        return {(r["product_id"], r["seq"]): r for r in df.select(cols).collect()}

    want = keyed(top_n_levels_from_price_mutations(
        spark.createDataFrame(rows, EVENT_SCHEMA), by=["product_id"], n=2
    ))
    got = keyed(read_stream_batches(spark, root))
    assert len(want) == len(rows)
    assert got == want
