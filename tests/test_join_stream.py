"""Stream-stream interval join: batch parity, boundary semantics, plan shape.

The streaming result must equal the batch range-join on a bounded replay —
interval_join_stream is ONE implementation driven through two engines, so the
batch side doubles as the oracle for the streaming side.
"""

import datetime as dt
import uuid

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from polars_order_book_spark.streaming import interval_join_stream


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 12, minute, 0)


@pytest.fixture()
def clicks_purchases(spark):
    clicks = spark.createDataFrame(
        [
            Row(user_id=1, click_id=10, click_ts=_ts(0)),
            Row(user_id=1, click_id=11, click_ts=_ts(40)),
            Row(user_id=2, click_id=20, click_ts=_ts(0)),
        ]
    )
    purchases = spark.createDataFrame(
        [
            Row(user_id=1, purchase_id=100, purchase_ts=_ts(10)),  # matches 10
            Row(user_id=1, purchase_id=101, purchase_ts=_ts(30)),  # exactly +30m: excluded
            Row(user_id=1, purchase_id=102, purchase_ts=_ts(55)),  # matches 11
            Row(user_id=2, purchase_id=200, purchase_ts=_ts(0)),   # gap 0: included
            Row(user_id=3, purchase_id=300, purchase_ts=_ts(5)),   # no click
        ]
    )
    return clicks, purchases


def test_batch_interval_join_boundaries(spark, clicks_purchases):
    clicks, purchases = clicks_purchases
    out = interval_join_stream(
        clicks, purchases, on="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
    )
    pairs = {(r.click_id, r.purchase_id) for r in out.collect()}
    # half-open window [ts, ts+30m): purchase at exactly +30m attributes to
    # the NEXT click era, not this one; same-instant purchase (gap 0) counts.
    assert pairs == {(10, 100), (11, 102), (20, 200)}


def test_stream_matches_batch(spark, clicks_purchases, tmp_path):
    clicks, purchases = clicks_purchases
    base = str(tmp_path)
    clicks.write.parquet(f"{base}/clicks")
    purchases.write.parquet(f"{base}/purchases")
    sc = spark.readStream.schema(clicks.schema).parquet(f"{base}/clicks")
    sp = spark.readStream.schema(purchases.schema).parquet(f"{base}/purchases")
    joined = interval_join_stream(
        sc, sp, on="user_id", left_ts="click_ts", right_ts="purchase_ts",
    ).select("user_id", "click_id", "purchase_id")
    name = f"ij_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    got = {(r.click_id, r.purchase_id) for r in spark.table(name).collect()}
    assert got == {(10, 100), (11, 102), (20, 200)}


def test_stream_plan_is_symmetric_hash_join(spark, clicks_purchases, tmp_path):
    """The streaming plan must be a StreamingSymmetricHashJoin keyed on the
    equality column — the state-store-backed operator whose eviction the
    watermark + range bound drive. A fallback to a non-streaming join here
    would silently buffer everything."""
    clicks, purchases = clicks_purchases
    base = str(tmp_path)
    clicks.write.parquet(f"{base}/clicks")
    purchases.write.parquet(f"{base}/purchases")
    sc = spark.readStream.schema(clicks.schema).parquet(f"{base}/clicks")
    sp = spark.readStream.schema(purchases.schema).parquet(f"{base}/purchases")
    joined = interval_join_stream(
        sc, sp, on="user_id", left_ts="click_ts", right_ts="purchase_ts",
    )
    name = f"ijp_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert "StreamingSymmetricHashJoin" in plan, plan


def test_batch_same_code_path(spark, clicks_purchases):
    """The identical call on batch frames plans as an ordinary equi-join with
    a range residual — no state store, no watermark analysis error."""
    clicks, purchases = clicks_purchases
    out = interval_join_stream(
        clicks, purchases, on="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        left_watermark=None, right_watermark=None,
    )
    assert out.count() == 3


def test_stream_left_outer_flushes_closed_windows(spark, clicks_purchases, tmp_path):
    """Left-outer: clicks with no purchase in-window emit with nulls once the
    final no-data batch advances the watermark past their join window. With a
    short delay (1 min) and data spanning 55 min, every click's window closes
    below the final watermark, so ALL unmatched clicks flush."""
    clicks, purchases = clicks_purchases
    base = str(tmp_path)
    clicks.write.parquet(f"{base}/clicks")
    purchases.write.parquet(f"{base}/purchases")
    sc = spark.readStream.schema(clicks.schema).parquet(f"{base}/clicks")
    sp = spark.readStream.schema(purchases.schema).parquet(f"{base}/purchases")
    joined = interval_join_stream(
        sc, sp, on="user_id", left_ts="click_ts", right_ts="purchase_ts",
        left_watermark="1 minute", right_watermark="1 minute",
        how="left_outer",
    ).select("user_id", "click_id", "purchase_id")
    name = f"ijo_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    got = {(r.click_id, r.purchase_id) for r in spark.table(name).collect()}
    # matched pairs as in the inner join; every click matched something, so
    # no null rows — but re-run with a click that cannot match:
    assert {(10, 100), (11, 102), (20, 200)} <= got


def test_stream_left_outer_emits_null_for_unmatched(spark, tmp_path):
    base = str(tmp_path)
    clicks = spark.createDataFrame(
        [Row(user_id=9, click_id=90, click_ts=_ts(0)),
         Row(user_id=9, click_id=91, click_ts=_ts(50))],
    )
    purchases = spark.createDataFrame(
        [Row(user_id=9, purchase_id=900, purchase_ts=_ts(55))],  # matches 91 only
    )
    clicks.write.parquet(f"{base}/clicks")
    purchases.write.parquet(f"{base}/purchases")
    sc = spark.readStream.schema(clicks.schema).parquet(f"{base}/clicks")
    sp = spark.readStream.schema(purchases.schema).parquet(f"{base}/purchases")
    joined = interval_join_stream(
        sc, sp, on="user_id", left_ts="click_ts", right_ts="purchase_ts",
        left_watermark="1 minute", right_watermark="1 minute",
        how="left_outer",
    ).select("click_id", "purchase_id")
    name = f"ijn_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {(r.click_id, r.purchase_id) for r in spark.table(name).collect()}
    # click 90's window [12:00, 12:30) closed before the final watermark
    # (12:54): it must flush as unmatched; click 91 matches purchase 900
    assert got == {(90, None), (91, 900)}


def test_left_outer_requires_both_watermarks(spark, clicks_purchases, tmp_path):
    clicks, purchases = clicks_purchases
    base = str(tmp_path)
    clicks.write.parquet(f"{base}/clicks")
    purchases.write.parquet(f"{base}/purchases")
    sc = spark.readStream.schema(clicks.schema).parquet(f"{base}/clicks")
    sp = spark.readStream.schema(purchases.schema).parquet(f"{base}/purchases")
    with pytest.raises(ValueError, match="both sides"):
        interval_join_stream(
            sc, sp, on="user_id", left_ts="click_ts", right_ts="purchase_ts",
            right_watermark=None, how="left_outer",
        )
    with pytest.raises(ValueError, match="inner"):
        interval_join_stream(
            sc, sp, on="user_id", left_ts="click_ts", right_ts="purchase_ts",
            how="full",
        )
