"""Runtime-configuration probes that degrade gracefully off stock Spark.

``spark.sql.shuffle.partitions`` is numeric on stock Spark but can be the
string ``"auto"`` on managed runtimes (Databricks auto-optimized shuffle),
and operators that parse it with a bare ``int(...)`` crash there. Central
helper so every caller shares one fallback rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Stateful-stream shuffle width: one partition per 32 MiB of input, at
# least 8 (see stream_shuffle_width).
STREAM_SHUFFLE_FLOOR = 8
STREAM_BYTES_PER_PARTITION = 32 * 1024 * 1024


def shuffle_partitions(
    spark: SparkSession,
    fallback_df: "DataFrame | None" = None,
    default: int = 200,
) -> int:
    """Best-effort integer shuffle-partition count.

    Order: the conf value if it parses as a positive int; else the fallback
    DataFrame's current partition count (a reasonable stand-in for "how wide
    is this stage"); else ``default`` (Spark's own stock default is 200).
    """
    raw = spark.conf.get("spark.sql.shuffle.partitions", str(default))
    try:
        n = int(raw)
        if n > 0:
            return n
    except (TypeError, ValueError):
        pass
    if fallback_df is not None:
        try:
            n = fallback_df.rdd.getNumPartitions()
            if n > 0:
                return n
        except Exception:
            pass
    return default


def fan_out_for_compute(df: DataFrame, *, min_partitions: "int | None" = None) -> DataFrame:
    """Widen a compute-heavy relation whose SCAN is narrow.

    Spark sizes read parallelism by input BYTES (spark.sql.files.
    maxPartitionBytes), which is correct for I/O-bound plans and exactly
    wrong for compute-multiplying ones: a 0.6 MB compressed text file is one
    task, and a tokenize + n-gram lambda chain over it runs on ONE core no
    matter how many sit idle (measured 7.4 s -> 0.95 s at sf0.1 for
    ngram_novelty's explode after widening). The same trap recurs at 100 TB
    whenever text shards are small-and-compressed relative to their CPU
    cost — parallelism must be provisioned by COMPUTE for such operators.

    If the relation already has >= min_partitions (default: the session's
    shuffle-partition count) partitions, this is a no-op — wide inputs pass
    through untouched, so the round-trip shuffle is only paid when it buys
    parallelism. The shuffle moves the raw rows ONCE, strictly before the
    expensive expressions run.
    """
    spark = df.sparkSession
    target = min_partitions or shuffle_partitions(spark, fallback_df=df)
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    return df.repartition(target)


def stream_shuffle_width(spark: SparkSession, *input_paths: str) -> int:
    """Input-sized width for a STATEFUL streaming query's shuffle.

    A micro-batch stateful operator materializes one state-store instance
    (plus one sink file and one task per stage) PER shuffle partition, every
    batch — a per-batch fixed cost that the session-level
    ``spark.sql.shuffle.partitions`` (sized for the session's batch work)
    over-provisions whenever the stream's input is small relative to the
    session's width. Sizing from the INPUT (ceil(bytes / 32 MB), floor 8,
    ceiling = the session conf) is the streaming analog of AQE partition
    coalescing, which micro-batch stateful plans do not get: the conf stays
    the ceiling at scale (big inputs reach it), and a real cluster's large
    conf is only used when the data warrants it. Partitioning is by key
    hash either way — results are identical at any width (the rigs'
    oracles pin this at both SFs).
    """
    import os

    total = 0
    for p in input_paths:
        # Walk the tree: a hive-partitioned input keeps its files in
        # subdirectories, whose own entry sizes say nothing of the data.
        files = (
            [os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs]
            if os.path.isdir(p) else [p]
        )
        for f in files:
            try:
                total += os.path.getsize(f)
            except OSError:
                pass
    if not total:
        import warnings

        warnings.warn(
            f"stream_shuffle_width: inputs {input_paths!r} add up to 0 bytes "
            "(missing, unreadable or empty); sizing to the floor "
            f"{STREAM_SHUFFLE_FLOOR}",
            stacklevel=2,
        )
    ceiling = shuffle_partitions(spark)
    want = max(STREAM_SHUFFLE_FLOOR, -(-total // STREAM_BYTES_PER_PARTITION))
    return min(ceiling, want)


class scoped_stream_shuffle:
    """Context manager: set the session shuffle width to
    :func:`stream_shuffle_width` of the inputs for the duration of a
    streaming rig's start+await, then restore. The stream itself keeps the
    scoped width for its whole life (StreamExecution clones the session at
    ``start()``), so the scope only needs to cover query construction."""

    def __init__(self, spark: SparkSession, *input_paths: str):
        self.spark = spark
        self.paths = input_paths

    def __enter__(self) -> int:
        self._saved = self.spark.conf.get("spark.sql.shuffle.partitions", "200")
        width = stream_shuffle_width(self.spark, *self.paths)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(width))
        return width

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self._saved)
