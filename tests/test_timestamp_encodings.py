"""Timestamp-robustness matrix (r3 regression guard).

The driver's testdata has shipped `ts` under three physical parquet encodings
across rounds: TIMESTAMP(NANOS) (Spark reads it as bigint under
spark.sql.legacy.parquet.nanosAsLong), native timestamp[us] (Spark reads it as
TIMESTAMP_NTZ), and plain TIMESTAMP. Round 3's red gate was exactly an
unhandled drift between the first two. This matrix pins `load_table` /
`load_table_stream` to produce identical TIMESTAMP output for all three, so
the NEXT drift is caught by pytest, not by the driver.
"""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from polars_order_book_spark.sources.tables import (
    load_table,
    load_table_stream,
    normalize_ts,
)

# Two instants straddling a microsecond boundary issue: one on a whole second,
# one with sub-second micros (truncation-sensitive when coming from nanos).
_INSTANTS_US = [1_700_000_000_000_000, 1_700_000_123_456_789]
ENCODINGS = ["nanos_as_long", "micros_ntz", "micros_tz"]


def _write_events(path: str, encoding: str) -> None:
    ids = pa.array([1, 2], type=pa.int64())
    if encoding == "nanos_as_long":
        ts = pa.array([us * 1000 + 999 for us in _INSTANTS_US], type=pa.int64())
        ts = ts.cast(pa.timestamp("ns"))
    elif encoding == "micros_ntz":
        ts = pa.array(_INSTANTS_US, type=pa.int64()).cast(pa.timestamp("us"))
    elif encoding == "micros_tz":
        ts = pa.array(_INSTANTS_US, type=pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    table = pa.table({"event_id": ids, "ts": ts})
    pq.write_table(table, path)


@pytest.fixture(scope="module")
def encoded_dirs(spark, tmp_path_factory):
    """One sf-dir per encoding, each holding a 2-row events.parquet."""
    dirs = {}
    root = tmp_path_factory.mktemp("ts_matrix")
    for enc in ENCODINGS:
        d = os.path.join(root, enc)
        os.makedirs(d, exist_ok=True)
        _write_events(os.path.join(d, "events.parquet"), enc)
        dirs[enc] = d
    return dirs


# Value equality is asserted through unix_micros, NOT collected datetimes:
# PySpark renders TIMESTAMP as naive datetimes in the DRIVER's local zone, so
# a datetime comparison would only pass on UTC machines and this matrix must
# hold anywhere.


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_load_table_normalizes_every_encoding(spark, encoded_dirs, encoding):
    df = load_table(spark, encoded_dirs[encoding], "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # unix_micros is the downstream contract every events query relies on;
    # nanos encodings carry +999ns which must TRUNCATE to the same micros
    # (DuckDB-equivalent), not round up.
    micros = [
        r[0]
        for r in df.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
    ]
    assert micros == _INSTANTS_US


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_load_table_stream_matches_batch(spark, encoded_dirs, encoding):
    sdf = load_table_stream(spark, encoded_dirs[encoding], "events")
    assert sdf.isStreaming
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    q = (
        sdf.writeStream.format("memory")
        .queryName(f"ts_matrix_{encoding}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = [
        r[0]
        for r in spark.table(f"ts_matrix_{encoding}")
        .orderBy("event_id")
        .selectExpr("unix_micros(ts)")
        .collect()
    ]
    assert got == _INSTANTS_US


def test_normalize_ts_noop_on_plain_timestamp(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 0, 0))], "event_id long, ts timestamp"
    )
    out = normalize_ts(df, ("ts",))
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.first()["ts"] == dt.datetime(2024, 1, 1, 12, 0, 0)


def test_pre_epoch_nanos_truncate_toward_zero_matches_duckdb(spark, tmp_path):
    """Pre-epoch contract (decided r10, closing the r9 caveat): nanos -> micros
    conversion TRUNCATES TOWARD ZERO, matching DuckDB's parquet nanos read
    exactly (verified empirically: DuckDB maps -999 ns -> 0 us, -1500 ns ->
    -1 us, i.e. toward-zero, NOT floor). Spark's `div` has the same
    semantics, so the oracle hash gate holds for pre-1970 data too."""
    import duckdb

    nanos = [-999, -1000, -1500, -315_619_199_999_999_999, 999, 1500]
    d = tmp_path / "pre_epoch"
    d.mkdir()
    ts = pa.array(nanos, type=pa.int64()).cast(pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": pa.array(range(len(nanos)), pa.int64()), "ts": ts}),
        str(d / "events.parquet"),
    )
    df = load_table(spark, str(d), "events")
    got = [
        r[0] for r in df.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
    ]
    # toward-zero: trunc(n/1000), not floor — exact integer math (float
    # division would lose precision past 2^53)
    expected_toward_zero = [
        (abs(n) // 1000) * (1 if n >= 0 else -1) for n in nanos
    ]
    assert got == expected_toward_zero
    # and DuckDB agrees on the same file — the oracle side of the contract
    duck = duckdb.connect()
    oracle = [
        r[1]
        for r in duck.execute(
            f"select event_id, epoch_us(ts) from '{d / 'events.parquet'}' "
            "order by event_id"
        ).fetchall()
    ]
    assert oracle == expected_toward_zero
