"""Streaming dedup: survivor mapping must be sticky across micro-batches."""

import os
import shutil
import time

from pyspark.sql.types import LongType, StringType, StructField, StructType

from polars_order_book_spark.streaming import dedup_stream_with_survivor

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("text", StringType(), False),
])

# batch 0: doc 1/2 duplicates ("alpha"), doc 3 unique
# batch 1: doc 4 duplicates "alpha" again (cross-batch), doc 5 new
BATCHES = [
    [(1, "alpha"), (2, "alpha"), (3, "beta")],
    [(4, "alpha"), (5, "gamma")],
]


def test_survivor_mapping_sticky_across_batches(spark, tmp_path):
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    for i, batch in enumerate(BATCHES):
        part = os.path.join(tmp, f"part_{i}")
        spark.createDataFrame(batch, DOC_SCHEMA).coalesce(1).write.parquet(part)
        pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(part, pq), os.path.join(in_dir, f"{i:03d}.parquet"))
        time.sleep(1.1)

    stream_in = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    tagged = dedup_stream_with_survivor(stream_in)
    q = (
        tagged.writeStream.format("memory")
        .queryName("dedup_tags")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in spark.table("dedup_tags").collect()}

    assert set(rows) == {1, 2, 3, 4, 5}
    # "alpha" survivor fixed at min id of its first batch, sticky afterwards
    assert rows[1]["keep_id"] == 1 and rows[1]["is_first"]
    assert rows[2]["keep_id"] == 1 and not rows[2]["is_first"]
    assert rows[4]["keep_id"] == 1 and not rows[4]["is_first"]  # cross-batch dup
    assert rows[3]["keep_id"] == 3 and rows[3]["is_first"]
    assert rows[5]["keep_id"] == 5 and rows[5]["is_first"]
    assert rows[1]["content_hash"] == rows[4]["content_hash"]


def test_drop_duplicates_within_watermark_dedups_and_evicts(spark, tmp_path):
    """Within the horizon duplicates are dropped; once the watermark passes a
    key's arrival its state evicts, so a much-later recurrence re-emits."""
    from pyspark.sql.types import TimestampType

    from polars_order_book_spark.streaming.dedup_stream import (
        drop_duplicates_within_watermark,
    )
    import datetime as dt

    schema = StructType([
        StructField("k", LongType(), False),
        StructField("ts", TimestampType(), False),
    ])
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # batch 0: key 1 twice (dup within horizon), key 2 once
    # batch 1: key 3 at +3h advances the watermark PAST batch-0 state expiry
    #          (the watermark updates at end-of-batch; state cleanup applies
    #          it one batch later still, so eviction of key 1's batch-0 state
    #          is visible from batch 3 on)
    # batch 2: keeps the stream moving under the advanced watermark
    # batch 3: key 1 recurs after eviction -> must re-emit
    batches = [
        [(1, m(0)), (1, m(5)), (2, m(1))],
        [(3, m(180))],
        [(4, m(190))],
        [(1, m(195))],
    ]
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    for i, batch in enumerate(batches):
        part = os.path.join(tmp, f"part_{i}")
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(part)
        pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(part, pq), os.path.join(in_dir, f"{i:03d}.parquet"))
        time.sleep(1.1)

    stream_in = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    dd = drop_duplicates_within_watermark(stream_in, ["k"], ts_col="ts", watermark="1 hour")
    q = (
        dd.writeStream.format("memory")
        .queryName("dropdup_wm")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = [(r["k"], r["ts"]) for r in spark.table("dropdup_wm").collect()]

    ks = sorted(k for k, _ in rows)
    # key 1 emitted twice: first arrival, then the post-eviction recurrence
    assert ks == [1, 1, 2, 3, 4], rows
    assert (1, m(5)) not in rows  # the within-horizon duplicate was dropped
    assert (1, m(195)) in rows  # re-emitted after state eviction


def test_null_text_docs_are_excluded_not_grouped(spark, tmp_path):
    """r8 self-review: md5(NULL) is NULL, so all null-text docs previously
    collapsed into ONE dedup group keyed (None,) and wrote a null into the
    non-nullable content_hash output field. A doc with no content has no
    content identity: excluded up front."""
    nullable = StructType([
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
    ])
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(in_dir)
    part = os.path.join(tmp, "part_0")
    spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, None), (4, "alpha")], nullable
    ).coalesce(1).write.parquet(part)
    pq = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(part, pq), os.path.join(in_dir, "000.parquet"))
    stream_in = spark.readStream.schema(nullable).parquet(in_dir)
    tagged = dedup_stream_with_survivor(stream_in)
    q = (
        tagged.writeStream.format("memory")
        .queryName("dedup_null_tags")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in spark.table("dedup_null_tags").collect()}
    assert set(rows) == {1, 4}  # null-text docs excluded, not grouped
    assert rows[1]["keep_id"] == 1 and rows[4]["keep_id"] == 1
