"""Error-contract tests (SURVEY.md §2.5, FIXTURES.md §3.7)."""

import pytest

from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from polars_order_book_spark import (
    OrderBookError,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_mutations_with_modify,
    top_n_levels_from_price_updates,
)

SCHEMA3 = StructType([
    StructField("seq", LongType()),
    StructField("is_bid", BooleanType()),
    StructField("price", LongType()),
    StructField("qty", LongType()),
])
SCHEMA5 = StructType(SCHEMA3.fields + [
    StructField("prev_price", LongType()),
    StructField("prev_qty", LongType()),
])


def run_expect_error(df_out, match):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as e:
        df_out.collect()
    assert match in str(e.value)


def test_delete_on_empty_book(spark):
    df = spark.createDataFrame([(1, True, 5, -3)], SCHEMA3)
    run_expect_error(top_n_levels_from_price_mutations(df, n=1), "Level not found")


def test_delete_more_than_available(spark):
    df = spark.createDataFrame([(1, True, 5, 3), (2, True, 5, -5)], SCHEMA3)
    run_expect_error(top_n_levels_from_price_mutations(df, n=1), "Qty exceeds available")


def test_null_inputs_error(spark):
    df = spark.createDataFrame([(1, None, 5, 3)], SCHEMA3)
    run_expect_error(top_n_levels_from_price_mutations(df, n=1), "null is_bid/price/qty")
    df = spark.createDataFrame([(1, True, None, 3)], SCHEMA3)
    run_expect_error(top_n_levels_from_price_updates(df, n=1), "null is_bid/price/qty")


def test_one_sided_prev_args_valueerror(spark):
    df = spark.createDataFrame([(1, True, 5, 3, None, None)], SCHEMA5)
    with pytest.raises(ValueError, match="together"):
        top_n_levels_from_price_mutations_with_modify(df, prev_price="prev_price")


def test_row_level_prev_price_without_prev_qty(spark):
    df = spark.createDataFrame([(1, True, 5, 3, 4, None)], SCHEMA5)
    run_expect_error(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=1),
        "prev_price without prev_qty",
    )


def test_negative_qty_with_prev(spark):
    df = spark.createDataFrame([(1, True, 5, 3, None, None), (2, True, 6, -1, 5, 3)], SCHEMA5)
    run_expect_error(
        top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", n=1),
        "negative qty with non-null prev",
    )


@pytest.mark.parametrize("n", [0, 21])
def test_unsupported_levels(spark, n):
    df = spark.createDataFrame([(1, True, 5, 3)], SCHEMA3)
    with pytest.raises(OrderBookError, match="Unsupported number of levels"):
        top_n_levels_from_price_mutations(df, n=n)


def test_update_qty_zero_on_missing_level_is_silent(spark):
    df = spark.createDataFrame([(1, True, 5, 0), (2, True, 6, 7)], SCHEMA3)
    out = top_n_levels_from_price_updates(df, n=1)
    rows = {r["seq"]: r for r in out.collect()}
    assert rows[1]["bid_price_1"] is None
    assert rows[2]["bid_price_1"] == 6
