"""RocksDB state-store parity: the streaming sessionizer must produce
identical results under the default (HDFS-backed in-memory) provider and the
RocksDB provider — the production state backend when keyed streaming state
outgrows executor heap (100 TB contract: state on local disk + changelog
checkpoints, not heap).

Uses the SHARED session fixture: the provider class is read per query from
the session conf, so the test flips the conf for the RocksDB run and restores
it in a finally block — it never stops or replaces the shared session.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@needs_testdata
def test_sessionize_stream_rocksdb_matches_default(spark, tmp_path):
    from polars_order_book_spark.sources.tables import load_table_stream
    from polars_order_book_spark.streaming import sessionize_stream

    def run(name: str) -> set:
        ev = load_table_stream(spark, SF_DIR, "events")
        sess = sessionize_stream(ev, gap="30 minutes")
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return {tuple(r) for r in spark.table(name).collect()}

    # default provider on the shared session
    base = run("ss_default")
    assert base, "sessionizer produced no rows"

    # RocksDB provider needs its own session: the provider class is read per
    # query from the session conf, so a conf flip on the live session works,
    # but we set it explicitly and restore after to avoid leaking state.
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = run("ss_rocksdb")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rocks == base


def test_get_spark_rejects_unknown_state_store():
    from polars_order_book_spark.session import get_spark

    with pytest.raises(ValueError, match="unknown state_store"):
        get_spark("bad", cpus=1, state_store="leveldb")


@needs_testdata
def test_book_stream_rocksdb_matches_default(spark):
    """Keyed continuous book under the RocksDB provider must equal the
    default-provider run — the applyInPandasWithState path, not just the
    built-in session_window aggregation."""
    import __spark_entry__ as E

    run = E.queries()["ob_stream_keyed_mutations_top2"]
    base = {tuple(r) for r in run(spark, SF_DIR).collect()}
    assert base

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = {tuple(r) for r in run(spark, SF_DIR).collect()}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rocks == base


@needs_testdata
def test_interval_join_rocksdb_matches_default(spark, tmp_path):
    """Stream-stream interval join parity under the RocksDB provider — the
    symmetric join buffers BOTH sides in the state store, so backend parity
    matters more here than for any aggregation."""
    from pyspark.sql import functions as F
    import uuid

    from polars_order_book_spark.sources.tables import load_table_stream
    from polars_order_book_spark.streaming import interval_join_stream

    def run() -> set:
        ev = load_table_stream(spark, SF_DIR, "events")
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        pairs = interval_join_stream(
            clicks, purchases, on="user_id",
            left_ts="click_ts", right_ts="purchase_ts",
        ).select("click_id", "purchase_id")
        name = f"ij_ss_{uuid.uuid4().hex[:8]}"
        q = (
            pairs.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return {tuple(r) for r in spark.table(name).collect()}

    base = run()
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = run()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rocks == base
