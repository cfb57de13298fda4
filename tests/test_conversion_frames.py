"""Exchange-message conversion workflow (ref: README.md:131-162) end-to-end,
horizontal concat, and CSV event ingest."""

import os
import tempfile

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_order_book_spark import (
    hconcat,
    scale_price,
    side_to_is_bid,
    signed_qty,
    snapshot_columns,
    top_n_levels_from_price_mutations,
    unscale_prices,
)
from polars_order_book_spark.sources.tables import load_event_csv

RAW_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("side", StringType()),
    StructField("price_f", DoubleType()),
    StructField("message_type", StringType()),
    StructField("qty", LongType()),
])

# add 10@1.25 bid, add 5@1.30 ask, trade(delete) 10@1.25 bid, add 7@1.20 bid
RAW_ROWS = [
    (1, "BID", 1.25, "Add", 10),
    (2, "ask", 1.30, "Add", 5),
    (3, "Bid", 1.25, "Trade", 10),
    (4, "buy", 1.20, "Add", 7),
]


def _convert(df, factor=100):
    return df.select(
        "seq",
        side_to_is_bid("side").alias("is_bid"),
        scale_price("price_f", factor).alias("price"),
        signed_qty("message_type", "qty").alias("qty"),
    )


def test_conversion_workflow_end_to_end(spark):
    """README.md:131-162 recipe: convert raw feed, fold, unscale prices."""
    raw = spark.createDataFrame(RAW_ROWS, RAW_SCHEMA)
    folded = top_n_levels_from_price_mutations(_convert(raw), n=1)
    out = {r["seq"]: r for r in unscale_prices(folded, 100).collect()}

    assert out[1]["bid_price_1"] == pytest.approx(1.25) and out[1]["bid_qty_1"] == 10
    assert out[2]["ask_price_1"] == pytest.approx(1.30) and out[2]["ask_qty_1"] == 5
    assert out[3]["bid_price_1"] is None          # trade deleted the only bid level
    assert out[4]["bid_price_1"] == pytest.approx(1.20) and out[4]["bid_qty_1"] == 7
    assert out[4]["ask_price_1"] == pytest.approx(1.30)


def test_scale_price_round_trip(spark):
    df = spark.createDataFrame([(i, 0.01 * i) for i in range(1, 500)], ["id", "p"])
    scaled = df.select("id", scale_price("p", 100).alias("bid_price_1"))
    back = unscale_prices(scaled, 100)
    for r in back.collect():
        assert r["bid_price_1"] == pytest.approx(0.01 * r["id"])


def test_signed_qty_types(spark):
    df = spark.createDataFrame(
        [("Add", 5), ("DELETE", 5), ("trade", 3), ("modify", 2)], ["mt", "q"]
    )
    got = [r["s"] for r in df.select(signed_qty("mt", "q").alias("s")).collect()]
    assert got == [5, -5, -3, 2]


def test_operators_accept_column_expressions(spark):
    """IntoExpr parity (ref: _utils.py:15-52): inputs may be Column
    expressions, not just names — the conversion recipe inlines into one
    call; temp expr columns do not leak into the output."""
    from pyspark.sql import functions as F

    raw = spark.createDataFrame(RAW_ROWS, RAW_SCHEMA)
    named = top_n_levels_from_price_mutations(_convert(raw), n=1)
    inline = top_n_levels_from_price_mutations(
        raw,
        price=scale_price("price_f", 100),
        qty=signed_qty("message_type", "qty"),
        is_bid=side_to_is_bid("side"),
        n=1,
    )
    assert not [c for c in inline.columns if c.startswith("__expr_")]
    got = {r["seq"]: (r["bid_price_1"], r["bid_qty_1"], r["ask_price_1"])
           for r in inline.collect()}
    exp = {r["seq"]: (r["bid_price_1"], r["bid_qty_1"], r["ask_price_1"])
           for r in named.collect()}
    assert got == exp


def test_hconcat_on_id(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "x"])
    right = spark.createDataFrame([(2, 20.0), (1, 10.0)], ["id", "y"])
    got = {r["id"]: (r["x"], r["y"]) for r in hconcat(left, right, on="id").collect()}
    assert got == {1: ("a", 10.0), 2: ("b", 20.0)}


def test_hconcat_positional(spark):
    """Polars concat(how='horizontal') analog: zip by row position under each
    side's explicit ordering (ref: README.md:161)."""
    left = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], ["k", "x"])
    right = spark.createDataFrame([(30, 300), (10, 100), (20, 200)], ["j", "y"])
    got = hconcat(left, right, left_order="k", right_order="j").orderBy("k").collect()
    assert [(r["k"], r["x"], r["j"], r["y"]) for r in got] == [
        (1, "a", 10, 100), (2, "b", 20, 200), (3, "c", 30, 300)
    ]


def test_hconcat_requires_alignment_spec(spark):
    df = spark.createDataFrame([(1,)], ["a"])
    with pytest.raises(ValueError, match="hconcat needs"):
        hconcat(df, df)


def test_csv_event_ingest_folds(spark):
    """CSV -> event stream -> fold (the reference's bench replay path,
    ref: order_book/benches/ninja.rs:26-38)."""
    schema = StructType([
        StructField("seq", LongType()),
        StructField("is_bid", BooleanType()),
        StructField("price", LongType()),
        StructField("qty", LongType()),
    ])
    with tempfile.TemporaryDirectory(prefix="obcsv_") as tmp:
        path = os.path.join(tmp, "events.csv")
        with open(path, "w") as f:
            f.write("seq,is_bid,price,qty\n")
            f.write("1,true,100,5\n2,false,105,3\n3,true,101,2\n4,true,100,-5\n")
        df = load_event_csv(spark, path, schema=schema)
        assert [f.dataType for f in df.schema.fields] == [f.dataType for f in schema.fields]
        out = {r["seq"]: r for r in top_n_levels_from_price_mutations(df, n=1).collect()}
    assert out[3]["bid_price_1"] == 101 and out[3]["bid_qty_1"] == 2
    assert out[4]["bid_price_1"] == 101  # 100-level deleted, 101 remains
    assert out[4]["ask_price_1"] == 105 and out[4]["ask_qty_1"] == 3


def test_hconcat_positional_length_mismatch_raises(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["o", "x"])
    right = spark.createDataFrame([(10, 1.0), (20, 2.0)], ["r", "y"])
    with pytest.raises(ValueError, match="equal lengths"):
        hconcat(left, right, left_order="o", right_order="r")


def test_jsonl_event_ingest_folds(spark):
    """JSONL replay file -> schema'd scan -> mutations fold, mirroring the CSV
    ingest path."""
    import json

    from polars_order_book_spark.sources.tables import load_event_jsonl

    rows = [
        {"seq": 0, "is_bid": True, "price": 5, "qty": 3},
        {"seq": 1, "is_bid": False, "price": 9, "qty": 2},
        {"seq": 2, "is_bid": True, "price": 6, "qty": 1},
        {"seq": 3, "is_bid": True, "price": 6, "qty": -1},
    ]
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "events.jsonl")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        df = load_event_jsonl(
            spark, p, "seq long, is_bid boolean, price long, qty long"
        )
        out = {r["seq"]: (r["bid_price_1"], r["ask_price_1"])
               for r in top_n_levels_from_price_mutations(df, n=1).collect()}
    assert out[2] == (6, 9)
    assert out[3] == (5, 9)  # the 6-level emptied; best bid falls back to 5


def test_event_csv_roundtrip_with_embedded_newlines(spark, tmp_path):
    """Quoted newlines in free-text columns must survive a CSV round trip:
    the writer quotes them, and the reader needs multiLine=true or the
    record is torn at the raw newline (review finding, r4)."""
    from polars_order_book_spark.sources.tables import load_event_csv

    rows = [
        (1, 'line one\nline two', 1.5),
        (2, 'plain', 2.5),
        (3, 'comma, "quote", and\r\nnewline', 3.5),
    ]
    df = spark.createDataFrame(rows, "id long, text string, v double")
    path = str(tmp_path / "events_csv")
    df.write.mode("overwrite").option("header", "true").csv(path)
    back = load_event_csv(
        spark, path, schema="id long, text string, v double", multiLine="true"
    )
    got = sorted((r["id"], r["text"], r["v"]) for r in back.collect())
    assert got == sorted(rows)


def test_hconcat_positional_plan_has_no_global_data_window(spark):
    """Scale pin (r5): positional alignment must not rank the DATA through an
    unpartitioned window — only the partitions-sized count prefix-scan may be
    unpartitioned. A data-sized global window would show as
    windowspecdefinition(<order col> ASC...) with no partition spec."""
    left = spark.createDataFrame([(3, "c"), (1, "a")], ["k", "x"])
    right = spark.createDataFrame([(30, 300), (10, 100)], ["j", "y"])
    plan = (
        hconcat(left, right, left_order="k", right_order="j")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "windowspecdefinition(k#" not in plan, plan
    assert "windowspecdefinition(j#" not in plan, plan


def test_hconcat_positional_larger_roundtrip(spark):
    """500 rows across many partitions: segmented positions must align the
    sides exactly (pos i on the left meets pos i on the right)."""
    import random

    rng = random.Random(11)
    ks = rng.sample(range(10_000), 500)
    left = spark.createDataFrame([(k, f"L{k}") for k in ks], ["k", "x"]).repartition(13)
    right = spark.createDataFrame(
        [(k * 2, f"R{k}") for k in ks], ["j", "y"]
    ).repartition(7)
    out = hconcat(left, right, left_order="k", right_order="j").collect()
    assert len(out) == 500
    for r in out:
        assert r["j"] == r["k"] * 2, (r["k"], r["j"])
        assert r["x"] == f"L{r['k']}" and r["y"] == f"R{r['k']}"
