"""Streaming sessionization: session_window output must equal the batch
formulation away from the exact-gap boundary, and the documented boundary
delta must hold."""

import datetime
import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

from polars_order_book_spark.streaming import sessionize_stream

EV_SCHEMA = StructType([
    StructField("user_id", LongType(), False),
    StructField("ts", TimestampType(), False),
])


def _t(minutes: float):
    return datetime.datetime(2026, 1, 1) + datetime.timedelta(minutes=minutes)


ROWS = [
    # user 1: two sessions — gap of 45min between minute 10 and 55
    (1, _t(0)), (1, _t(10)), (1, _t(55)), (1, _t(60)),
    # user 2: one long chained session (each gap 20min < 30min)
    (2, _t(0)), (2, _t(20)), (2, _t(40)), (2, _t(60)),
    # user 3: single event
    (3, _t(5)),
]


def _expected():
    return {
        (1, _t(0), _t(10), 2),
        (1, _t(55), _t(60), 2),
        (2, _t(0), _t(60), 4),
        (3, _t(5), _t(5), 1),
    }


def _us(dt):
    return int(dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)


def test_sessionize_stream_batch_mode_matches_gap_rule(spark):
    """session_window works on a static frame too — pin the core semantics
    without stream machinery."""
    df = spark.createDataFrame(ROWS, EV_SCHEMA)
    got = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in sessionize_stream(df).collect()
    }
    want = {(u, _us(a), _us(b), n) for u, a, b, n in _expected()}
    assert got == want


def test_sessionize_stream_availablenow_equals_batch(spark, tmp_path):
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    df = spark.createDataFrame(ROWS, EV_SCHEMA)
    df.coalesce(1).write.parquet(os.path.join(tmp, "part"))
    for f in os.listdir(os.path.join(tmp, "part")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(tmp, "part", f), os.path.join(in_dir, f))
    stream_in = spark.readStream.schema(EV_SCHEMA).parquet(in_dir)
    sess = sessionize_stream(stream_in)
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in spark.table("sess_stream").collect()
    }
    batch = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in sessionize_stream(spark.createDataFrame(ROWS, EV_SCHEMA)).collect()
    }
    assert got == batch == {(u, _us(a), _us(b), n) for u, a, b, n in _expected()}


def test_sessionize_stream_boundary_parity_with_batch_rule(spark):
    """An event at exactly prev + gap MERGES under session_window (split
    requires gap > gapDuration) — the same boundary the batch lag-rule uses
    (is_start when gap > 30min), so the formulations agree everywhere."""
    us = datetime.timedelta(microseconds=1)
    gap30 = datetime.timedelta(minutes=30)
    for delta, want_sessions in [(gap30, 1), (gap30 + us, 2), (gap30 - us, 1)]:
        df = spark.createDataFrame([(1, _t(0)), (1, _t(0) + delta)], EV_SCHEMA)
        assert sessionize_stream(df).count() == want_sessions, delta
