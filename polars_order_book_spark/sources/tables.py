"""Table loaders for the driver's testdata layout (TESTDATA.md).

Parquet in, DataFrame out — scans stay declarative so Catalyst pushes filters
and prunes columns into the file source (verify with .explain: PushedFilters /
ReadSchema). At 100 TB these would be partitioned/bucketed tables; the loader
keys off a directory so the same code targets any scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Timestamp columns the testdata has shipped under three physical encodings so
# far: TIMESTAMP(NANOS) (readable only as long via nanosAsLong), native
# timestamp[us] (Spark reads it as TIMESTAMP_NTZ), and plain TIMESTAMP.
# DuckDB reads all of them at microsecond precision, so we normalize every
# encoding to session-TZ TIMESTAMP (session tz is pinned UTC in session.py,
# making the cast exact and epoch_us-equivalent).
_TS_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def normalize_ts(df: DataFrame, cols: "tuple[str, ...]") -> DataFrame:
    """Normalize timestamp columns to TIMESTAMP regardless of how the parquet
    encoded them. Handles: bigint epoch-nanos (legacy nanosAsLong reads),
    TIMESTAMP_NTZ (native timestamp[us] files under a UTC session), and
    already-TIMESTAMP (no-op). Pure column expressions — no job is triggered
    and pushdown/pruning through the scan is unaffected."""
    dtypes = dict(df.dtypes)
    for c in cols:
        t = dtypes.get(c)
        if t == "bigint":
            # Integer division: nanos (~1.7e18) exceed float64's 2^53 exact
            # range, so `/ 1000` could be off by up to 1 µs vs DuckDB's exact
            # truncation. CONTRACT (decided r10): nanos -> micros truncates
            # TOWARD ZERO (−999 ns -> 0 µs, −1500 ns -> −1 µs), which is
            # exactly what DuckDB's parquet nanos read does (empirically
            # verified, NOT floor) — so `div` matches the oracle for
            # pre-epoch values too. Pinned by
            # tests/test_timestamp_encodings.py::
            # test_pre_epoch_nanos_truncate_toward_zero_matches_duckdb.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif t == "timestamp_ntz":
            # Session tz is UTC, so NTZ -> TIMESTAMP is a pure reinterpretation
            # (same micros-since-epoch DuckDB's epoch_us sees).
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _defensive_confs(spark: SparkSession) -> None:
    """The driver may hand us a session built without our factory — pin the
    two confs our timestamp contract depends on: nanosAsLong (legacy
    TIMESTAMP(NANOS) files are unreadable without it) and a UTC session tz
    (the NTZ->TIMESTAMP cast in normalize_ts is a pure reinterpretation only
    under UTC; any other zone would shift every epoch micro by the offset)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _defensive_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_ts(df, _TS_COLS.get(name, ()))


def load_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming read of a testdata table with the SAME timestamp contract as
    :func:`load_table`. readStream needs an explicit schema, so we take the
    file's real schema from a (metadata-only) batch read instead of hardcoding
    one — that's what makes this robust to physical-encoding drift between
    testdata generations. The file source requires a directory path;
    pathGlobFilter narrows it to the one table."""
    _defensive_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(df, _TS_COLS.get(name, ()))


def load_event_csv(
    spark: SparkSession,
    path: str,
    schema: "StructType | str | None" = None,
    **options: str,
) -> DataFrame:
    """CSV ingest for order-book event replays — the reference's only file
    format beyond in-memory frames (its real-data bench reads a message CSV,
    ref: order_book/benches/ninja.rs:26-38).

    With an explicit ``schema`` the scan skips inference (one pass, not two)
    and stays splittable; pass ``header='false'`` etc. via options. The scan
    is declarative, so column pruning reaches the source like parquet
    (predicate pushdown over CSV is format-limited by nature).
    """
    # Defaults merge UNDER caller options: header='false' in **options must
    # override, not raise "multiple values for keyword argument".
    reader = spark.read.options(**{"header": "true", **options})
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_event_jsonl(
    spark: SparkSession,
    path: str,
    schema: "StructType | str | None" = None,
    **options: str,
) -> DataFrame:
    """JSON-lines ingest — the other text format event replays arrive in.

    Same contract as :func:`load_event_csv`: an explicit ``schema`` skips
    inference (one pass) and keeps the scan splittable by line; without one,
    Spark samples to infer. Malformed lines follow the standard JSON-source
    modes (pass ``mode='FAILFAST'`` to reject them loudly)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() queries mirror the
    DuckDB oracle's pre-registered views."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
