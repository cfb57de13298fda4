"""User-profile stream: cross-batch state accumulation, exact arithmetic,
implementation gating."""

import datetime as dt
import uuid

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from polars_order_book_spark.streaming import user_profile_stream
from polars_order_book_spark.streaming.profile_stream import tws_available


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=u, ts=dt.datetime(2024, 1, 1, 12, m), value=v) for u, m, v in rows]
    )


def _run(spark, stream_df, ckpt, extra_options=None):
    name = f"prof_{uuid.uuid4().hex[:8]}"
    w = (
        stream_df.writeStream.format("memory").queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    q = w.start()
    assert q.awaitTermination(300), "stream did not finish"
    return spark.table(name)


def test_profile_accumulates_across_micro_batches(spark, tmp_path):
    """Two files + maxFilesPerTrigger=1 → two micro-batches; the second
    batch's emission must include the first batch's state (count carries
    over, sum stays exact, last_us is the max across batches)."""
    base = str(tmp_path)
    _events(spark, [(1, 0, 1.25), (1, 1, 2.5), (2, 0, 10.0)]).coalesce(1).write.parquet(
        f"{base}/data/b1"
    )
    _events(spark, [(1, 2, 0.125), (2, 1, -3.0)]).coalesce(1).write.parquet(
        f"{base}/data/b2"
    )
    schema = spark.read.parquet(f"{base}/data/b1").schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(f"{base}/data")
    )
    out = _run(spark, user_profile_stream(src, impl="apply"), f"{base}/ckpt")
    # update sink appends one row per (user, batch-touched); final = max by n
    final = {
        r["user_id"]: r
        for r in out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "value_sum_micros", "last_us")).alias("p"))
        .select("user_id", "p.*")
        .collect()
    }
    assert final[1]["n_events"] == 3
    assert final[1]["value_sum_micros"] == 1_250_000 + 2_500_000 + 125_000
    assert final[2]["n_events"] == 2
    assert final[2]["value_sum_micros"] == 10_000_000 - 3_000_000
    # last_us = max event time across batches
    t = dt.datetime(2024, 1, 1, 12, 2)
    assert final[1]["last_us"] == int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    # a user touched in both batches emitted twice (update-mode contract)
    assert out.where(F.col("user_id") == 1).count() == 2


def test_impl_gating_and_validation(spark):
    df = _events(spark, [(1, 0, 1.0)])
    src = df  # batch frame is fine for constructor-time validation
    with pytest.raises(ValueError, match="impl"):
        user_profile_stream(src, impl="bogus")
    with pytest.raises(ValueError, match="ttl_ms"):
        user_profile_stream(src, impl="apply", ttl_ms=1000)
    if not tws_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            user_profile_stream(src, impl="tws")


@pytest.mark.skipif(not tws_available(), reason="google.protobuf not installed")
def test_tws_matches_apply(spark, tmp_path):
    base = str(tmp_path)
    _events(spark, [(1, 0, 1.5), (1, 1, 2.0), (3, 0, 7.0)]).write.parquet(
        f"{base}/data"
    )
    schema = spark.read.parquet(f"{base}/data").schema
    for impl in ("tws", "apply"):
        src = spark.readStream.schema(schema).parquet(f"{base}/data")
        out = _run(spark, user_profile_stream(src, impl=impl), f"{base}/ckpt_{impl}")
        rows = sorted(
            (r["user_id"], r["n_events"], r["value_sum_micros"]) for r in out.collect()
        )
        assert rows == [(1, 2, 3_500_000), (3, 1, 7_000_000)], impl


def test_prepare_excludes_null_rows(spark):
    """r8 self-review: a NULL user id crashed the processor at int(key[0]);
    a NULL value was skipped by the sum but counted in n_events. Rows
    missing any field are excluded up front (heavy_hitters convention)."""
    from polars_order_book_spark.streaming.profile_stream import _prepare

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.5),
            (None, "2024-01-01 00:00:01", 2.5),
            (2, None, 3.5),
            (3, "2024-01-01 00:00:03", None),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = _prepare(df, "user_id", "ts", "value").collect()
    assert [r["user_id"] for r in got] == [1]
