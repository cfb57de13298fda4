"""Checkpoint-recovery pins: a streaming query stopped and RESTARTED from
its checkpoint must behave as one continuous run — dedup state survives (no
re-emission of keys seen before the restart) and windowed-agg results equal
the single-shot run's. This is the operational property every production
stream relies on and no single-run test exercises.
"""

from pyspark.sql import functions as F


def _write_phase(spark, path, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        "text",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=F.col("doc_id"))).alias("ts"),
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _run_until_done(stream_df, out_dir, ckpt):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"


def test_dedup_stream_state_survives_restart(spark, tmp_path):
    from polars_order_book_spark.streaming.dedup_stream import (
        drop_exact_duplicates_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, ts timestamp"

    # Phase 1: three distinct texts (one duplicated within the phase).
    _write_phase(spark, src, [(1, "aa"), (2, "bb"), (3, "cc"), (4, "aa")])

    def stream():
        raw = spark.readStream.schema(schema).parquet(src)
        # wide watermark: nothing ages out inside the test horizon
        return drop_exact_duplicates_stream(raw, watermark="10 hours")

    _run_until_done(stream(), out, ckpt)
    phase1 = spark.read.parquet(out)
    assert phase1.count() == 3  # within-phase dup dropped

    # Phase 2: RESTART from the same checkpoint with new files — two
    # cross-phase duplicates ("aa", "cc") and one new text.
    _write_phase(spark, src, [(5, "aa"), (6, "dd"), (7, "cc")])
    _run_until_done(stream(), out, ckpt)

    final = spark.read.parquet(out).collect()
    texts = sorted(r["text"] for r in final)
    # State survived the restart: cross-phase dups were NOT re-emitted.
    assert texts == ["aa", "bb", "cc", "dd"]
    # And phase 1's rows were not reprocessed (exactly-once file source).
    assert len(final) == 4


def test_heavy_hitters_stream_state_survives_restart(spark, tmp_path):
    """The Misra-Gries summary (counters + n_seen) must restore from the
    checkpoint: after a restart, an item's count spans BOTH phases, and the
    support threshold uses the lifetime n_seen."""
    from polars_order_book_spark.streaming import heavy_hitters_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "hh")
    schema = "k string, item long"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        # memory sinks cannot recover from a checkpoint; foreachBatch can
        raw = spark.readStream.schema(schema).parquet(src)
        hh = heavy_hitters_stream(raw, "k", "item", support=0.5, k=100)

        def emit(batch_df, _batch_id):
            batch_df.write.mode("append").parquet(sink)

        q = (
            hh.writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"
        out = spark.read.parquet(sink)
        # current state per key = its rows at max n_seen (emission recency)
        mx = out.agg(F.max("n_seen").alias("m")).collect()[0]["m"]
        return out.where(F.col("n_seen") == mx)

    # Phase 1: item 1 dominates (5 of 6 rows; threshold ceil(0.5*6)=3)
    write([("a", 1)] * 5 + [("a", 2)])
    p1 = {r["item"]: (r["n"], r["n_seen"]) for r in run().collect()}
    assert p1 == {1: (5, 6)}

    # Phase 2 after RESTART: five more of item 2. Lifetime: item2=6,
    # item1=5, n_seen=11, threshold ceil(0.5*11)=6 — only item 2 qualifies,
    # and only if phase 1's single item-2 count survived the restart.
    write([("a", 2)] * 5)
    p2 = {r["item"]: (r["n"], r["n_seen"]) for r in run().collect()}
    assert p2 == {2: (6, 11)}


def test_windowed_agg_restart_equals_single_shot(spark, tmp_path):
    src = str(tmp_path / "src")
    schema = "ts timestamp, v long"

    def rows(hours):
        return [(f"2024-01-01 {h:02d}:{m:02d}:00", h * 100 + m)
                for h in hours for m in (0, 30)]

    def write(hours):
        spark.createDataFrame(rows(hours), "ts string, v long").select(
            F.col("ts").cast("timestamp").alias("ts"), "v"
        ).coalesce(1).write.mode("append").parquet(src)

    def agg_stream():
        raw = spark.readStream.schema(schema).parquet(src)
        return (
            raw.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
            .select(
                F.unix_micros(F.col("window.start")).alias("ws"), "sv", "n"
            )
        )

    def run(out, ckpt):
        _run_until_done(agg_stream(), out, ckpt)

    # Two-phase run with a restart between hour batches.
    out_a = str(tmp_path / "w_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    write([0, 1, 2])
    run(out_a, ckpt_a)
    write([3, 4, 5])
    run(out_a, ckpt_a)

    # Single-shot run over the identical final file set (fresh checkpoint).
    out_b = str(tmp_path / "w_b")
    ckpt_b = str(tmp_path / "ckpt_b")
    run(out_b, ckpt_b)

    a = {(r["ws"], r["sv"], r["n"]) for r in spark.read.parquet(out_a).collect()}
    b = {(r["ws"], r["sv"], r["n"]) for r in spark.read.parquet(out_b).collect()}
    assert a == b and len(a) > 0
    # No window emitted twice across the restart.
    assert spark.read.parquet(out_a).count() == len(a)
