"""SparkSession factory with scale-oriented defaults.

Every setting is the one we would ship on a 1000-executor cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow transfer for the pandas-UDF
fold path, and a shuffle width equal to the cores the session is given.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "polars-order-book-spark",
    cpus: int | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """``state_store='rocksdb'`` switches Structured Streaming state to the
    RocksDB provider — the production choice when keyed state (books,
    sessions, dedup hashes) outgrows executor heap: state lives off-heap on
    local disk with changelog checkpointing, instead of the default in-memory
    HDFS-backed map. Same results either way (pinned by
    tests/test_state_store.py); default None keeps Spark's default provider.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing of small shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width = cores. AQE coalesces batch shuffles below it anyway;
        # the raw width is read only by stateful streams (one state store,
        # task and commit per partition per micro-batch) and explicit-count
        # repartitions, where more partitions than cores only adds task waves.
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        # Arrow both ways: toPandas and pandas UDFs (the fold path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Parquet scans: 128 MiB splits keep task count sane at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Driver testdata parquet uses TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and normalize in sources.tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # JVM<->Python-worker channel over a Unix domain socket instead of
        # loopback TCP (Spark 4.1 feature). Motivation (r10, observed live):
        # an output-heavy full-duplex pandas op (the unkeyed book fold emits
        # ~10x its input width) hard-deadlocked at the 10M-row scale point —
        # worker blocked in tcp_sendmsg/sk_stream_wait_memory with ~4.2 MB
        # queued, JVM side Recv-Q EMPTY yet never receiving: a loopback TCP
        # zero-window stall below the application layer (Spark's selector
        # was correctly polling; the kernel never delivered). UDS has no
        # window/ACK machinery, so the failure mode is structurally absent —
        # and local transfers skip the TCP stack entirely. Opt out with
        # SPARK_GRAFT_UDS=0 (e.g. if a worker platform lacks AF_UNIX).
        .config(
            "spark.python.unix.domain.socket.enabled",
            "false" if os.environ.get("SPARK_GRAFT_UDS", "1") == "0" else "true",
        )
    )
    if state_store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    elif state_store is not None:
        raise ValueError(f"unknown state_store {state_store!r}")
    return builder.getOrCreate()
