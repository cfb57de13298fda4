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
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_order_book_spark import top_n_levels_from_price_mutations
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


def _run_stream_batches(spark, tmp, batches, name, horizon, n=2, timeout=180):
    """Feed chronological micro-batches (one file per trigger) through the
    reorder-mode stream under directory ``tmp``; return rows_by_seq of the
    memory sink."""
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    for i, chunk in enumerate(batches):
        part = os.path.join(tmp, f"part_{i}")
        spark.createDataFrame(chunk, EVENT_SCHEMA).coalesce(1).write.parquet(part)
        pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(part, pq), os.path.join(in_dir, f"{i:03d}.parquet"))
        time.sleep(1.1)
    stream_in = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    snaps = top_n_levels_stream(
        stream_in, "mutations", by=["product_id"], n=n, reorder_horizon=horizon
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


def test_stream_reorder_buffer_matches_sorted_batch_golden(spark, tmp_path):
    """Out-of-order arrival within the horizon: emitted snapshots must equal
    the sorted-batch golden for every seq at or below the final watermark
    minus the horizon; later seqs stay buffered (unemitted)."""
    rows = {}
    qty_state = {}
    for s in range(30):
        p = 100 + (s * 3) % 7
        if p in qty_state and s % 4 == 3:
            q = -min(qty_state[p], 1 + s % 3)
        else:
            q = 1 + s % 5
        qty_state[p] = qty_state.get(p, 0) + q
        if qty_state[p] == 0:
            del qty_state[p]
        rows[s] = ("A", s, True, p, q)

    golden_df = spark.createDataFrame(
        [rows[s] for s in range(30)], EVENT_SCHEMA
    )
    expected = rows_by_seq(
        top_n_levels_from_price_mutations(golden_df, by=["product_id"], n=2)
    )

    # each arrival satisfies seq > max_seen - 5 (late by at most 5)
    order1 = [2, 0, 1, 3, 5, 4, 6, 8, 7, 9]
    order2 = [12, 10, 11, 14, 13, 15, 17, 16, 19, 18]
    order3 = [21, 20, 22, 24, 23, 25, 27, 26, 29, 28]
    batches = [[rows[s] for s in o] for o in (order1, order2, order3)]
    got = _run_stream_batches(spark, tmp_path, batches, "book_reorder_ok", horizon=5)

    emitted_bound = 29 - 5  # final watermark minus horizon
    assert set(got) == set(s for s in range(emitted_bound + 1))
    snap_cols = [c for c in next(iter(expected.values())) if c.startswith(("bid_", "ask_"))]
    for s in range(emitted_bound + 1):
        for c in snap_cols:
            assert got[s][c] == expected[s][c], f"seq {s} col {c}"


def test_stream_reorder_too_late_fails_query(spark, tmp_path):
    """An event later than the horizon violates the arrival contract and must
    fail the query loudly, like every other contract violation."""
    rows1 = [("A", s, True, 100 + s % 3, 1) for s in range(10)]  # wm -> 9
    rows2 = [("A", 3, True, 100, 1)]  # 3 <= 9 - 5: beyond the horizon
    with pytest.raises(Exception) as e:
        _run_stream_batches(spark, tmp_path, [rows1, rows2], "book_reorder_late", horizon=5)
    assert "reorder horizon" in str(e.value)


def test_stream_reorder_horizon_zero_equals_in_order_contract(spark, tmp_path):
    """horizon=0 folds everything already seen except nothing is held back:
    wm - 0 covers every seq, so in-order input matches the batch golden
    completely."""
    rows = [("A", s, True, 100 + s % 3, 1) for s in range(12)]
    golden = rows_by_seq(
        top_n_levels_from_price_mutations(
            spark.createDataFrame(rows, EVENT_SCHEMA), by=["product_id"], n=2
        )
    )
    got = _run_stream_batches(
        spark, tmp_path, [rows[:6], rows[6:]], "book_reorder_zero", horizon=0
    )
    assert set(got) == set(golden)
    snap_cols = [c for c in next(iter(golden.values())) if c.startswith(("bid_", "ask_"))]
    for s, exp in golden.items():
        for c in snap_cols:
            assert got[s][c] == exp[c]


def test_stream_reorder_duplicate_pending_seq_fails_loudly(spark, tmp_path):
    """A duplicate of a still-pending seq must raise, not be folded twice:
    the too-late check alone would admit it and silently double-apply the
    qty delta."""
    batches = [
        [("A", 1, True, 10, 3), ("A", 2, True, 10, 2)],
        [("A", 2, True, 10, 2), ("A", 3, True, 10, 1)],  # seq 2 again
    ]
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="duplicate event seq 2"):
        _run_stream_batches(spark, tmp_path, batches, "reorder_dup_sink", horizon=100)


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
        _run_stream_batches(spark, tmp_path, batches, "in_order_replay_sink", horizon=None)


def test_stream_in_order_duplicate_seq_in_batch_fails_loudly(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    batches = [[("A", 1, True, 10, 3), ("A", 1, True, 10, 3)]]
    with pytest.raises(StreamingQueryException, match="duplicate event seq 1"):
        _run_stream_batches(spark, tmp_path, batches, "in_order_dup_sink", horizon=None)
