"""Sink round-trips: partition pruning must reach the re-read plan."""

import os

from pyspark.sql import functions as F

from polars_order_book_spark.sources.sinks import (
    read_partitioned,
    write_partitioned,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_roundtrip_and_pruning(spark, tmp_path):
    rows = [(i, ["click", "view", "error"][i % 3], float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    tmp = str(tmp_path)
    path = os.path.join(tmp, "events_out")
    write_partitioned(df, path, partition_by=["event_type"])
    # hive layout on disk
    assert sorted(
        d for d in os.listdir(path) if d.startswith("event_type=")
    ) == ["event_type=click", "event_type=error", "event_type=view"]

    back = read_partitioned(spark, path)
    assert back.count() == 300
    filtered = back.where(F.col("event_type") == "click")
    assert filtered.count() == 100
    plan = plan_of(filtered)
    # pruning happens at planning: the partition filter reaches the scan
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200]
    # values survive the round trip
    got = {r["event_id"] for r in filtered.collect()}
    assert got == {i for i in range(300) if i % 3 == 0}


def test_partitioned_overwrite_is_idempotent(spark, tmp_path):
    rows = [(i, "a" if i < 5 else "b", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, ["id", "part", "v"])
    tmp = str(tmp_path)
    path = os.path.join(tmp, "t")
    write_partitioned(df, path, partition_by=["part"])
    write_partitioned(df, path, partition_by=["part"])  # rerun
    assert read_partitioned(spark, path).count() == 10
    # DYNAMIC overwrite contract (review finding, r4): rewriting only
    # partition 'a' must leave partition 'b' intact — static mode would
    # delete it. This is what makes partial backfills safe.
    write_partitioned(
        df.where(F.col("part") == "a"), path, partition_by=["part"]
    )
    left = read_partitioned(spark, path)
    assert left.count() == 10
    assert left.where(F.col("part") == "b").count() == 5


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    """The point of write_bucketed: two tables bucketed+sorted the same way
    on the join key must SortMergeJoin with NO Exchange on either side (the
    co-location claim in SCALE.md). Broadcast is disabled for the check so
    the planner must actually rely on the bucketing."""
    from polars_order_book_spark.sources.sinks import write_bucketed

    # warehouse dir is a static conf — tables land in the session default
    # (./spark-warehouse) and are dropped in the finally block
    left = spark.range(0, 500).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 500).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "bkt_left", ["k"], 4, sort_by=["k"])
    write_bucketed(right, "bkt_right", ["k"], 4, sort_by=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_compact_partitions_consolidates_files(spark, tmp_path):
    """Many tiny files per partition -> one file per partition, same data."""
    import glob

    from polars_order_book_spark.sources.sinks import (
        compact_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "frag")
    df = spark.range(0, 900).selectExpr("id", "id % 3 AS p")
    # fragment: 8-way repartition x maxRecordsPerFile -> many files/partition
    write_partitioned(
        df.repartition(8), path, ["p"], max_records_per_file=50
    )
    before = len(glob.glob(f"{path}/p=*/*.parquet"))
    assert before > 6, before
    data_before = sorted(
        (r["id"], r["p"]) for r in spark.read.parquet(path).collect()
    )
    compact_partitions(spark, path, ["p"])
    after = len(glob.glob(f"{path}/p=*/*.parquet"))
    assert after == 3, after  # one file per partition value
    data_after = sorted(
        (r["id"], r["p"]) for r in spark.read.parquet(path).collect()
    )
    assert data_after == data_before


def test_bucketed_sorted_single_file_sort_elision(spark):
    """write_bucketed's repartition gives ONE file per bucket — the
    precondition for sort-order propagation from sorted buckets. Spark 3+
    still inserts a (bucket-local, exchange-free) Sort by default
    (SPARK-28595 turned scan outputOrdering off); under
    spark.sql.legacy.bucketedTableScan.outputOrdering=true the Sort is
    elided too. Pin both behaviors so the layout contract is explicit:
    the EXCHANGE elision is unconditional, the SORT elision is opt-in."""
    import glob

    from polars_order_book_spark.sources.sinks import write_bucketed

    left = spark.range(0, 500).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 500).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "bkt_sl", ["k"], 4, sort_by=["k"])
    write_bucketed(right, "bkt_sr", ["k"], 4, sort_by=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    legacy = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    prev_legacy = spark.conf.get(legacy, "false")
    try:
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for t in ("bkt_sl", "bkt_sr"):
            import os

            files = glob.glob(os.path.join(warehouse, t, "part-*"))
            assert len(files) == 4, (t, files)  # one file per bucket
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_sl").join(spark.table("bkt_sr"), on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "Sort [" in plan  # default: bucket-local sort kept
        assert joined.count() == 500

        spark.conf.set(legacy, "true")
        joined2 = spark.table("bkt_sl").join(spark.table("bkt_sr"), on="k")
        plan2 = joined2._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan2
        assert "Exchange" not in plan2, plan2
        assert "Sort [" not in plan2, plan2  # scan order satisfies the SMJ
        assert joined2.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(legacy, prev_legacy)
        spark.sql("DROP TABLE IF EXISTS bkt_sl")
        spark.sql("DROP TABLE IF EXISTS bkt_sr")


def test_bucketed_overwrite_survives_orphaned_location(spark):
    """A fresh session's catalog doesn't know about last session's managed
    table, but its directory is still on disk — overwrite must clear the
    orphan instead of failing with LOCATION_ALREADY_EXISTS."""
    import os
    import shutil

    from polars_order_book_spark.sources.sinks import write_bucketed

    df = spark.range(0, 10).selectExpr("id AS k", "id AS v")
    write_bucketed(df, "bkt_orphan", ["k"], 2, sort_by=["k"])
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, "bkt_orphan")
    try:
        # simulate the cross-session orphan: catalog entry gone, dir present
        spark.sql("DROP TABLE bkt_orphan")  # managed drop removes the dir
        os.makedirs(os.path.join(loc, "stale"), exist_ok=True)
        write_bucketed(df, "bkt_orphan", ["k"], 2, sort_by=["k"])
        assert spark.table("bkt_orphan").count() == 10
        assert not os.path.isdir(os.path.join(loc, "stale"))
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orphan")
        shutil.rmtree(loc, ignore_errors=True)


def test_bucketed_overwrite_handles_db_qualified_orphan(spark):
    """db-qualified managed tables live at <warehouse>/<db>.db/<table>; the
    orphan cleanup must target that path, not <warehouse>/<table>."""
    import os
    import shutil

    from polars_order_book_spark.sources.sinks import write_bucketed

    spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
    df = spark.range(0, 6).selectExpr("id AS k", "id AS v")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, "bktdb.db", "bkt_q")
    try:
        write_bucketed(df, "bktdb.bkt_q", ["k"], 2, sort_by=["k"])
        spark.sql("DROP TABLE bktdb.bkt_q")  # catalog forgets, then orphan:
        os.makedirs(os.path.join(loc, "stale"), exist_ok=True)
        write_bucketed(df, "bktdb.bkt_q", ["k"], 2, sort_by=["k"])
        assert spark.table("bktdb.bkt_q").count() == 6
        assert not os.path.isdir(os.path.join(loc, "stale"))
    finally:
        spark.sql("DROP TABLE IF EXISTS bktdb.bkt_q")
        spark.sql("DROP DATABASE IF EXISTS bktdb")
        shutil.rmtree(loc, ignore_errors=True)


def test_warehouse_local_path_parses_uris():
    """Review finding: removeprefix('file:') left hdfs:/s3a: schemes intact
    (cleanup silently no-oped) and turned file://host/path scheme-relative."""
    from polars_order_book_spark.sources.sinks import _warehouse_local_path

    assert _warehouse_local_path("spark-warehouse") == "spark-warehouse"
    assert _warehouse_local_path("/abs/warehouse") == "/abs/warehouse"
    assert _warehouse_local_path("file:/abs/warehouse") == "/abs/warehouse"
    assert _warehouse_local_path("file:///abs/warehouse") == "/abs/warehouse"
    assert _warehouse_local_path("hdfs://nn:8020/wh") is None
    assert _warehouse_local_path("s3a://bucket/wh") is None


def test_warehouse_local_path_rejects_remote_file_host():
    """Second review finding: file://host/path is a REMOTE location —
    treating its path as local would rmtree an unrelated driver-side
    directory. Only empty/localhost netlocs are local."""
    from polars_order_book_spark.sources.sinks import _warehouse_local_path

    assert _warehouse_local_path("file://nas01/wh") is None
    assert _warehouse_local_path("file://localhost/wh") == "/wh"


def test_bucketed_overwrite_handles_default_qualified_orphan(spark):
    """r8 self-review: 'default.t' (and 'spark_catalog.default.t') managed
    tables live at the warehouse ROOT, not <warehouse>/default.db/<t> — the
    cleanup previously checked the nonexistent default.db path, left the
    real orphan in place, and overwrite failed with
    LOCATION_ALREADY_EXISTS."""
    import os
    import shutil

    from polars_order_book_spark.sources.sinks import write_bucketed

    df = spark.range(0, 6).selectExpr("id AS k", "id AS v")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, "bkt_defq")
    try:
        write_bucketed(df, "default.bkt_defq", ["k"], 2, sort_by=["k"])
        spark.sql("DROP TABLE default.bkt_defq")
        os.makedirs(os.path.join(loc, "stale"), exist_ok=True)
        write_bucketed(df, "spark_catalog.default.bkt_defq", ["k"], 2,
                       sort_by=["k"])
        assert spark.table("default.bkt_defq").count() == 6
        assert not os.path.isdir(os.path.join(loc, "stale"))
    finally:
        spark.sql("DROP TABLE IF EXISTS default.bkt_defq")
        shutil.rmtree(loc, ignore_errors=True)


def test_append_stream_batch_replay_idempotent(spark, tmp_path):
    """r10 production-sink contract: a REPLAYED micro-batch (same batch_id,
    possibly different task-level file layout) overwrites its own batch_id
    directory — the read-back sees each batch exactly once, never a
    double-append."""
    from polars_order_book_spark.sources.sinks import (
        append_stream_batch,
        read_stream_batches,
    )

    root = str(tmp_path / "stream_out")
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    b1 = spark.createDataFrame([(3, 30)], "k long, v long")
    append_stream_batch(b0, 0, root)
    append_stream_batch(b1, 1, root)
    # replay batch 1 (Spark retries foreachBatch with the same batch_id)
    append_stream_batch(b1, 1, root)
    got = sorted(
        (r["k"], r["v"]) for r in read_stream_batches(spark, root).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    df = read_stream_batches(spark, root)
    assert "batch_id" not in df.columns
