"""Custom Python DataSource (bookgen): formulas, partitioning, pushdown,
streaming offsets."""

import uuid

import pytest

from pyspark.sql import functions as F

from polars_order_book_spark.sources import bookgen
from polars_order_book_spark.sources.bookgen import (
    BookGenReader,
    BookGenStreamReader,
    N_BOOKS,
    row_of,
)


@pytest.fixture()
def gen(spark):
    bookgen.register(spark)
    return (
        spark.read.format("bookgen")
        .option("n_events", 5000)
        .option("n_partitions", 4)
        .load()
    )


def test_rows_match_formula_and_partitioning(spark, gen):
    assert gen.count() == 5000
    assert gen.rdd.getNumPartitions() == 4
    got = sorted(tuple(r) for r in gen.where(F.col("seq") < 5).collect())
    assert got == [row_of(s) for s in range(5)]


def test_filter_pushdown_narrows_generation(spark, gen):
    # df-level correctness of pushed filters
    n = gen.where((F.col("seq") >= 10) & (F.col("seq") <= 109) & (F.col("book") == 2)).count()
    assert n == sum(1 for s in range(10, 110) if s % N_BOOKS == 2)
    # reader-level: pushFilters must consume supported filters and narrow
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

    r = BookGenReader({"n_events": "100", "n_partitions": "2"})
    leftover = list(r.pushFilters([
        GreaterThanOrEqual(("seq",), 10),
        LessThanOrEqual(("seq",), 49),
        EqualTo(("book",), 3),
        EqualTo(("price",), 7),  # unsupported -> returned to Spark
    ]))
    assert len(leftover) == 1 and isinstance(leftover[0], EqualTo)
    rows = [row for p in r.partitions() for row in r.read(p)]
    assert all(10 <= row[0] <= 49 and row[1] == 3 for row in rows)
    assert len(rows) == sum(1 for s in range(10, 50) if s % N_BOOKS == 3)


def test_stream_reader_serves_same_rows(spark, tmp_path):
    bookgen.register(spark)
    src = (
        spark.readStream.format("bookgen")
        .option("n_events", 2500)
        .option("batch_size", 1000)
        .load()
    )
    name = f"bg_{uuid.uuid4().hex[:8]}"
    # availableNow snapshots only the one prefetched batch on a
    # SimpleDataSourceStreamReader; drain with processAllAvailable instead
    q = (
        src.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(name)
    assert got.count() == 2500
    assert sorted(tuple(r) for r in got.where(F.col("seq") >= 2495).collect()) == [
        row_of(s) for s in range(2495, 2500)
    ]


def test_offset_replay_is_deterministic():
    r = BookGenStreamReader({"n_events": "100", "batch_size": "30"})
    it, end = r.read({"seq": 0})
    first = list(it)
    assert end == {"seq": 30} and len(first) == 30
    assert list(r.readBetweenOffsets({"seq": 0}, {"seq": 30})) == first
    # exhaustion: offsets stop advancing at n_events
    it, end = r.read({"seq": 90})
    assert len(list(it)) == 10 and end == {"seq": 100}
    it, end = r.read({"seq": 100})
    assert list(it) == [] and end == {"seq": 100}


def test_conflicting_book_equalities_return_empty(spark, gen):
    """r8 self-review: book = 1 AND book = 2 pushes BOTH equalities; keeping
    only the last returned book-2 rows where the correct answer is empty."""
    assert gen.where((F.col("book") == 1) & (F.col("book") == 2)).count() == 0
    r = BookGenReader({"n_events": "100", "n_partitions": "2"})
    from pyspark.sql.datasource import EqualTo

    list(r.pushFilters([EqualTo(("book",), 1), EqualTo(("book",), 2)]))
    assert [row for p in r.partitions() for row in r.read(p)] == []
