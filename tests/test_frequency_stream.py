"""Streaming keyed Misra-Gries heavy hitters: exact-regime parity with the
batch operator, cross-micro-batch state accumulation, and the
no-false-negative guarantee under pruning."""

import uuid
from collections import Counter

import pandas as pd

from pyspark.sql import Row
from pyspark.sql import functions as F

from polars_order_book_spark.streaming import heavy_hitters_stream
from polars_order_book_spark.streaming.frequency_stream import _emit_rows, _fold_mg


def _run(spark, stream_df, base):
    name = f"hh_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    return spark.table(name)


def _final_state(out):
    """Latest emission per key = rows at the key's max n_seen."""
    from pyspark.sql import Window

    w = Window.partitionBy("k")
    return (
        out.withColumn("__mx", F.max("n_seen").over(w))
        .where(F.col("n_seen") == F.col("__mx"))
        .drop("__mx")
    )


def _write_batches(spark, base, batches):
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [Row(k=k, item=v) for k, v in rows]
        ).coalesce(1).write.parquet(f"{base}/data/b{i}")
    schema = spark.read.parquet(f"{base}/data/b0").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(f"{base}/data")
    )


def test_exact_regime_matches_batch_operator(spark, tmp_path):
    import random

    rng = random.Random(5)
    rows = [
        (rng.choice(["a", "b"]), rng.choice([1, 1, 2, rng.randint(3, 40)]))
        for _ in range(2000)
    ]
    base = str(tmp_path)
    src = _write_batches(spark, base, [rows])
    out = _final_state(
        _run(spark, heavy_hitters_stream(src, "k", "item", support=0.05, k=10_000), base)
    )
    got = {(r["k"], r["item"]): r["n"] for r in out.collect()}
    from polars_order_book_spark.operators.frequency import heavy_hitters_by

    batch = spark.createDataFrame(rows, "k string, item long")
    exp = {
        (r["k"], r["item"]): r["n"]
        for r in heavy_hitters_by(batch, "k", "item", support=0.05).collect()
    }
    assert got == exp


def test_min_count_exact_regime_matches_batch_operator(spark, tmp_path):
    """The absolute-threshold mode (min_count) in the exact regime equals the
    batch heavy_hitters_by_count filter — the scale-aware contract that does
    not dilute as n_seen grows (cf. the relative mode's 0-row sf10 finding)."""
    import random

    rng = random.Random(7)
    rows = [
        (rng.choice(["a", "b"]), rng.choice([1, 1, 2, rng.randint(3, 40)]))
        for _ in range(2000)
    ]
    base = str(tmp_path)
    src = _write_batches(spark, base, [rows[:1000], rows[1000:]])
    out = _final_state(
        _run(spark, heavy_hitters_stream(src, "k", "item", min_count=25, k=10_000), base)
    )
    got = {(r["k"], r["item"]): r["n"] for r in out.collect()}
    exp = {
        (k, item): c
        for (k, item), c in Counter(rows).items()
        if c >= 25
    }
    assert got == exp
    # every emitted count is the TRUE count in the exact regime
    assert all(n >= 25 for n in got.values())


def test_min_count_validation(spark):
    import pytest

    df = spark.createDataFrame([("a", 1)], "k string, item long")
    with pytest.raises(ValueError, match="min_count"):
        heavy_hitters_stream(df, "k", "item", min_count=0)


def test_emit_rows_min_count_threshold():
    """_emit_rows with min_count uses the absolute threshold (optimistic
    counter + cut_sum >= min_count), independent of n_seen."""
    state = ([1, 2, 3], [30, 24, 5], 0, 1000)
    out = _emit_rows(("a",), state, 0.01, "k", "item", min_count=25)
    assert set(out["item"]) == {1}  # 30 >= 25; 24 and 5 miss
    # same state under the relative default: ceil(0.01 * 1000) = 10
    rel = _emit_rows(("a",), state, 0.01, "k", "item")
    assert set(rel["item"]) == {1, 2}


def test_state_accumulates_across_micro_batches(spark, tmp_path):
    """Item 7 is below threshold in every individual batch but above it in
    total — only carried state can find it."""
    b1 = [("a", 7)] * 3 + [("a", i) for i in range(100, 120)]
    b2 = [("a", 7)] * 3 + [("a", i) for i in range(200, 220)]
    base = str(tmp_path)
    src = _write_batches(spark, base, [b1, b2])
    out = _final_state(
        _run(spark, heavy_hitters_stream(src, "k", "item", support=0.1, k=10_000), base)
    )
    rows = {r["item"]: (r["n"], r["n_seen"]) for r in out.collect()}
    # total: 46 rows, item 7 count 6 >= ceil(0.1*46)=5; singletons are below
    assert rows == {7: (6, 46)}


def test_pruning_regime_no_false_negatives_and_lower_bounds(spark, tmp_path):
    """k far below the distinct-item count: cuts happen, yet every true
    heavy hitter must still be emitted, and every emitted n must be a lower
    bound on the true count."""
    rows = [("a", 0)] * 120 + [("a", 1000 + i) for i in range(400)]
    base = str(tmp_path)
    src = _write_batches(spark, base, [rows])
    out = _final_state(
        _run(spark, heavy_hitters_stream(src, "k", "item", support=0.2, k=5), base)
    )
    got = {r["item"]: r["n"] for r in out.collect()}
    true = Counter(v for _, v in rows)
    # true heavy: item 0 (120 >= ceil(0.2*520)=104)
    assert 0 in got
    for item, n in got.items():
        assert n <= true[item]


def test_null_keys_and_items_excluded(spark, tmp_path):
    rows = [("a", 1), ("a", 1), (None, 1), ("a", None)]
    base = str(tmp_path)
    src = _write_batches(spark, base, [rows])
    out = _final_state(
        _run(spark, heavy_hitters_stream(src, "k", "item", support=0.5, k=100), base)
    )
    got = {(r["k"], r["item"]): (r["n"], r["n_seen"]) for r in out.collect()}
    assert got == {("a", 1): (2, 2)}


def test_fold_emit_unit_bounds():
    """Unit pin of the state fold: cut_sum accumulates the pruning cuts and
    the optimistic emission keeps anything within cut_sum of the threshold."""
    acc = _fold_mg(
        [pd.DataFrame({"__item": [1] * 10 + [2] * 8 + [3, 4, 5]})], None, k=2
    )
    items, counts, cut_sum, n_seen = acc
    assert n_seen == 21
    assert len(items) <= 2
    assert cut_sum >= 1  # pruning happened
    d = dict(zip(items, counts))
    assert d[1] <= 10 and d[2] <= 8  # lower bounds
    rows = _emit_rows(("a",), acc, 0.4, "k", "item")
    # threshold ceil(0.4*21)=9: item 1 (counter >= 10-cut) must survive the
    # optimistic test
    assert 1 in set(rows["item"])
