"""Streaming rollup maintenance: convergence to the full recompute and the
non-idempotent replay guard (the load-bearing marker check)."""

import os
import tempfile

from pyspark.sql import functions as F

from polars_order_book_spark.streaming.agg_stream import (
    fold_batch,
    init_table,
    read_current,
)


def _facts(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _rollup(df):
    return df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").cast("decimal(18,0)")).alias("sum_v"),
    )


def _rowmap(df):
    return {r["k"]: (r["n_rows"], int(r["sum_v"])) for r in df.collect()}


def test_fold_batches_converge_to_full_recompute(spark):
    base = [("a", 1), ("b", 2)]
    b0 = [("a", 10), ("c", 5)]
    b1 = [("b", 100), ("c", 7), ("c", 8)]
    with tempfile.TemporaryDirectory() as tmp:
        tbl = os.path.join(tmp, "t")
        init_table(_rollup(_facts(spark, base)), tbl)
        for i, batch in enumerate([b0, b1]):
            fold_batch(
                _facts(spark, batch), i, tbl, ["k"],
                count_col="n_rows",
                sum_exprs={"sum_v": F.sum(F.col("v").cast("decimal(18,0)"))},
            )
        got = _rowmap(read_current(spark, tbl))
    want = _rowmap(_rollup(_facts(spark, base + b0 + b1)))
    assert got == want


def test_replayed_batch_is_not_double_added(spark):
    with tempfile.TemporaryDirectory() as tmp:
        tbl = os.path.join(tmp, "t")
        init_table(_rollup(_facts(spark, [("a", 1)])), tbl)
        batch = _facts(spark, [("a", 10)])
        kw = dict(count_col="n_rows",
                  sum_exprs={"sum_v": F.sum(F.col("v").cast("decimal(18,0)"))})
        fold_batch(batch, 0, tbl, ["k"], **kw)
        # simulate Spark retrying the committed batch after a crash between
        # marker flip and checkpoint commit: same batch id arrives again
        fold_batch(batch, 0, tbl, ["k"], **kw)
        got = _rowmap(read_current(spark, tbl))
    assert got == {"a": (2, 11)}  # not (3, 21)


def test_reservoir_per_key_exact_size_and_determinism(spark):
    from polars_order_book_spark.operators.sampling import reservoir_per_key

    df = spark.createDataFrame(
        [(i, "g" + str(i % 3)) for i in range(300)], "event_id long, g string"
    )
    s1 = reservoir_per_key(df, ["g"], 7, id_col="event_id", salt="s")
    s2 = reservoir_per_key(df, ["g"], 7, id_col="event_id", salt="s")
    rows1 = sorted((r["g"], r["event_id"], r["sample_rank"]) for r in s1.collect())
    rows2 = sorted((r["g"], r["event_id"], r["sample_rank"]) for r in s2.collect())
    assert rows1 == rows2  # reproducible draw
    from collections import Counter

    per_key = Counter(g for g, _, _ in rows1)
    assert per_key == {"g0": 7, "g1": 7, "g2": 7}
    # a different salt redraws a (almost surely) different set
    s3 = reservoir_per_key(df, ["g"], 7, id_col="event_id", salt="other")
    rows3 = sorted((r["g"], r["event_id"], r["sample_rank"]) for r in s3.collect())
    assert rows3 != rows1


def test_reservoir_small_group_returns_all(spark):
    from polars_order_book_spark.operators.sampling import reservoir_per_key

    df = spark.createDataFrame([(1, "g"), (2, "g")], "event_id long, g string")
    assert reservoir_per_key(df, ["g"], 10, id_col="event_id").count() == 2


def test_join_view_fold_batches_converge_to_full_join_recompute(spark):
    """Enrich-then-fold over batches equals a full recompute of the join
    view — the stream+static collapse of the join-delta algebra."""
    dim = spark.createDataFrame([(10, "x"), (20, "y")], "j long, grp string")
    base = [("a", 10, 1), ("b", 20, 2)]
    b0 = [("c", 10, 5), ("d", 30, 9)]  # d's key 30 has no dim row -> dropped
    b1 = [("e", 20, 7), ("f", 10, 8)]

    def facts(rows):
        return spark.createDataFrame(rows, "id string, j long, v long")

    def view(df):
        return df.join(dim, "j", "inner").groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,0)")).alias("sum_v"),
        )

    with tempfile.TemporaryDirectory() as tmp:
        tbl = os.path.join(tmp, "t")
        init_table(view(facts(base)), tbl)
        for i, batch in enumerate([b0, b1]):
            fold_batch(
                facts(batch).join(dim, "j", "inner"), i, tbl, ["grp"],
                sum_exprs={"sum_v": F.sum(F.col("v").cast("decimal(18,0)"))},
            )
        got = {r["grp"]: (r["n_rows"], int(r["sum_v"]))
               for r in read_current(spark, tbl).collect()}
        want = {r["grp"]: (r["n_rows"], int(r["sum_v"]))
                for r in view(facts(base + b0 + b1)).collect()}
        assert got == want


def test_two_sequential_runs_both_fold_with_default_checkpoint(spark, tmp_path):
    """r8 self-review: with checkpoint=None each .start() previously got a
    TEMP checkpoint, so a second run's batch ids restarted at 0 and the
    replay guard (marker == _v0) silently DROPPED the new run's facts. The
    checkpoint now defaults to <base_path>/_checkpoint, so batch ids stay
    monotonic across runs and both runs' facts fold."""
    from polars_order_book_spark.streaming.agg_stream import (
        maintain_rollup_stream,
    )

    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    tbl = os.path.join(tmp, "t")
    os.makedirs(src)
    kw = dict(count_col="n_rows",
              sum_exprs={"sum_v": F.sum(F.col("v").cast("decimal(18,0)"))})
    init_table(_rollup(_facts(spark, [])), tbl)
    _facts(spark, [("a", 1), ("b", 2)]).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v long").parquet(src)
    q = maintain_rollup_stream(stream, tbl, ["k"], **kw)
    q.awaitTermination(120)
    # run 2: new facts land, a NEW query starts against the same table
    _facts(spark, [("a", 10)]).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema("k string, v long").parquet(src)
    q2 = maintain_rollup_stream(stream2, tbl, ["k"], **kw)
    q2.awaitTermination(120)
    got = _rowmap(read_current(spark, tbl))
    assert got == {"a": (2, 11), "b": (1, 2)}


def test_current_marker_write_is_atomic(spark):
    """r8 self-review: the marker is repointed via temp-file + os.replace —
    no .tmp residue, and the marker content is always a complete version
    string."""
    from polars_order_book_spark.streaming.merge_stream import (
        _CURRENT,
        _write_marker,
    )

    with tempfile.TemporaryDirectory() as tmp:
        _write_marker(tmp, "_v7")
        with open(os.path.join(tmp, _CURRENT)) as f:
            assert f.read() == "_v7"
        assert not os.path.exists(os.path.join(tmp, _CURRENT + ".tmp"))
