"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship order-book query at sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2 plus the
north-star pipeline operators; each callable (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL per query (column names and types
aligned for the driver's order-insensitive value-hash compare).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import uuid
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_order_book_spark import (
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_mutations_with_modify,
    top_n_levels_from_price_updates,
    snapshot_columns,
)
from polars_order_book_spark.functions import conversion as conv
from polars_order_book_spark.functions.runtime import scoped_stream_shuffle
from polars_order_book_spark.operators import (
    classifier as clf,
    dedup,
    linalg,
    multimodal,
    ranges,
    sampling,
    similarity,
    text,
)
from polars_order_book_spark.plans import book_streams as bs
from polars_order_book_spark.plans import queries as hq
from polars_order_book_spark.sources.tables import load_table


def _await(q) -> None:
    """Wait up to 600 s for a streaming query to finish. A failed query
    raises its own exception here; one that runs out of time is stopped and
    raises ``TimeoutError``, so no caller reads a partial result."""
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within 600s - "
            "refusing to read partial results"
        )


def _in_scratch(build):
    """Run ``build(tmp)`` in a fresh scratch directory and return its result
    as a bounded DataFrame detached from the directory by an eager
    ``localCheckpoint`` (its blocks are freed when the returned DataFrame is
    garbage-collected). The directory is removed in a ``finally``: on
    success and on failure alike, so no rig that writes files leaves them
    behind, and nothing reads them lazily after they are gone."""
    tmp = tempfile.mkdtemp(prefix="rig_")
    try:
        return build(tmp).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _two_file_stream(df, key, tmp):
    """Land ``df`` under ``tmp`` as two ordered parquet files, split on
    ``key % 2``, and return a file stream that reads one per trigger: two
    micro-batches over the same rows, in a fixed order."""
    in_dir = os.path.join(tmp, "in")
    os.makedirs(in_dir)
    for i in (0, 1):
        pdir = os.path.join(tmp, f"part_{i}")
        df.where(F.col(key) % 2 == i).coalesce(1).write.parquet(pdir)
        pq = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
        os.rename(os.path.join(pdir, pq), os.path.join(in_dir, f"{i:03d}.parquet"))
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def _run_stream(df, mode, input_path, read=lambda t: t, parquet=False):
    """Run a streaming rig to completion and return its result as a bounded
    DataFrame: availableNow into a memory sink (or a parquet file sink with
    ``parquet=True``), under a shuffle width sized from ``input_path``.
    ``read`` maps the sink's contents (``spark.table`` of the memory sink,
    ``spark.read.parquet`` of the file sink) to the rig's result.

    The checkpoint and file-sink output live in an ``_in_scratch``
    directory. The memory-sink view (driver heap, otherwise kept until the
    session stops) is dropped in a ``finally`` of its own, so on success,
    on a failed query and on a timeout alike a registry run never
    accumulates earlier rigs' output."""
    spark = df.sparkSession
    name = f"stream_rig_{uuid.uuid4().hex[:8]}"

    def build(tmp):
        out = os.path.join(tmp, "out")
        w = (
            df.writeStream.queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
        )
        w = w.format("parquet").option("path", out) if parquet else w.format("memory")
        with scoped_stream_shuffle(spark, input_path):
            _await(w.start())
        return read(spark.read.parquet(out) if parquet else spark.table(name))

    try:
        return _in_scratch(build)
    finally:
        spark.catalog.dropTempView(name)


# ---------------------------------------------------------------------------
# entry: flagship query (driver smoke check at sf0.001)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Top-3 order-book levels folded over the sf0.001 event stream."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    stream = bs.updates_stream(ev)
    out = top_n_levels_from_price_updates(stream, n=3)
    return out.select("seq", *snapshot_columns(3))


# ---------------------------------------------------------------------------
# order-book queries (core reference surface)
# ---------------------------------------------------------------------------

def _ob_updates(n):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stream = bs.updates_stream(load_table(spark, sf_dir, "events"))
        out = top_n_levels_from_price_updates(stream, n=n)
        return out.select("seq", *snapshot_columns(n))
    return run


def _ob_updates_deep(n):
    """Deep-book fold: 40-price-per-side stream so n=20 (the reference's
    monomorphization ceiling, ref: calculate_bbo.rs:115-125) truncates a
    genuinely deeper book instead of emitting the full side."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stream = bs.deep_updates_stream(load_table(spark, sf_dir, "events"))
        out = top_n_levels_from_price_updates(stream, n=n)
        return out.select("seq", *snapshot_columns(n))
    return run


def _ob_mutations(n):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stream = bs.mutations_stream(load_table(spark, sf_dir, "events"))
        out = top_n_levels_from_price_mutations(stream, n=n)
        return out.select("seq", *snapshot_columns(n))
    return run


def _ob_mutations_deep(n):
    """Deep-book add/delete fold: paired add/delete stream over 40 prices
    per side, so the signed-delta emit + nth-best backfill paths
    (ref: update.rs:113-123, calculate_bbo.rs:190-214) run against a book
    that genuinely truncates at n — the shallow mutations stream never
    exceeds 10 live prices per side."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stream = bs.deep_mutations_stream(load_table(spark, sf_dir, "events"))
        out = top_n_levels_from_price_mutations(stream, n=n)
        return out.select("seq", *snapshot_columns(n))
    return run


def _ob_modify_deep(n):
    """Deep-book modify fold: one resting qty-1 order per user walking a
    40-price ladder, so the modify threshold check and two-legged
    delete+add emit (ref: calculate_bbo.rs:243-267, update.rs:132-162)
    run at the reference's monomorphization ceiling with real truncation."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stream = bs.deep_modify_stream(load_table(spark, sf_dir, "events"))
        out = top_n_levels_from_price_mutations_with_modify(
            stream, prev_price="prev_price", prev_qty="prev_qty", n=n
        )
        return out.select("seq", *snapshot_columns(n))
    return run


def _ob_modify(n):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stream = bs.modify_stream(load_table(spark, sf_dir, "events"))
        out = top_n_levels_from_price_mutations_with_modify(
            stream, prev_price="prev_price", prev_qty="prev_qty", n=n
        )
        return out.select("seq", *snapshot_columns(n))
    return run


def _ob_keyed_mutations(n):
    """Multi-book fold — the reference's documented scaling workflow
    (ref: README.md:184-216): the exchange by book puts each book in one
    partition, so the fold parallelizes across books instead of one serial
    task."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
        out = top_n_levels_from_price_mutations(stream, by=["book"], n=n)
        return out.select("book", "seq", *snapshot_columns(n))
    return run


def _ob_conversion(n):
    """End-to-end exchange-message workflow (ref: README.md:131-162): raw
    side-string / float-price / message-type feed -> conversion helpers ->
    mutations fold -> unscale snapshot prices back to floats."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        raw = bs.conversion_raw_stream(load_table(spark, sf_dir, "events"))
        ev = raw.select(
            "seq",
            conv.side_to_is_bid("side").alias("is_bid"),
            conv.scale_price("price_f", 100).alias("price"),
            conv.signed_qty("message_type", "qty").alias("qty"),
        )
        out = top_n_levels_from_price_mutations(ev, n=n)
        return conv.unscale_prices(out.select("seq", *snapshot_columns(n)), 100)
    return run


def _conversion_oracle_sql(n: int) -> str:
    inner = bs.oracle_book_sql(bs.CONVERSION_DELTAS_SQL, n, "mutations")
    cols = ["s.seq"]
    for i in range(1, n + 1):
        cols += [
            f"bid_price_{i} / 100 AS bid_price_{i}", f"bid_qty_{i}",
            f"ask_price_{i} / 100 AS ask_price_{i}", f"ask_qty_{i}",
        ]
    return "SELECT {} FROM ({}) s".format(", ".join(cols), inner)


def _ob_stream_keyed(n):
    """The Structured Streaming continuous book, driven to completion over the
    driver's events (availableNow trigger -> memory sink) and returned as a
    bounded DataFrame. Its per-event snapshots must equal the BATCH keyed
    fold, so the streaming path gets the same full oracle hash check."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from polars_order_book_spark.sources.tables import load_table_stream
        from polars_order_book_spark.streaming import top_n_levels_stream

        # Schema comes from the file itself + central ts normalization, so the
        # stream survives testdata physical-encoding drift (nanos-as-long vs
        # native micros) exactly like the batch loader.
        ev = load_table_stream(spark, sf_dir, "events")
        stream = bs.keyed_mutations_stream(ev)
        snaps = top_n_levels_stream(stream, "mutations", by=["book"], n=n)
        return _run_stream(
            snaps, "update", f"{sf_dir}/events.parquet",
            lambda t: t.select("book", "seq", *snapshot_columns(n)),
        )
    return run


def _ob_stream_parquet_sink(n):
    """The PRODUCTION-sink streaming book: keyed continuous fold ->
    update-mode foreachBatch -> parquet batch-id directories via the
    replay-safe sink (sources/sinks.py append_stream_batch), read back from
    disk, then the SAME full batch-fold hash oracle. Closes the memory-sink
    caveat the other streaming rigs carry (they hash-check through a
    bounded memory table documented as an oracle-parity rig, not the
    durable path): here the bytes that get hash-checked made a round trip
    through the files a real deployment would leave behind. Replay safety
    is the sink's own idempotence contract — a retried batch overwrites its
    own batch_id dir, never double-appends."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from polars_order_book_spark.sources.sinks import (
            append_stream_batch,
            read_stream_batches,
        )
        from polars_order_book_spark.sources.tables import load_table_stream
        from polars_order_book_spark.streaming import top_n_levels_stream

        ev = load_table_stream(spark, sf_dir, "events")
        stream = bs.keyed_mutations_stream(ev)
        snaps = top_n_levels_stream(stream, "mutations", by=["book"], n=n)

        def build(tmp):
            # the checkpoint stays outside the sink root (read_stream_batches)
            root = os.path.join(tmp, "data")
            with scoped_stream_shuffle(spark, f"{sf_dir}/events.parquet"):
                q = (
                    snaps.writeStream.foreachBatch(
                        lambda bdf, bid: append_stream_batch(bdf, bid, root)
                    )
                    .outputMode("update")
                    .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
                _await(q)
            return read_stream_batches(spark, root).select(
                "book", "seq", *snapshot_columns(n)
            )

        return _in_scratch(build)
    return run


def _ob_stream_deep_rocksdb(n):
    """Keyed streaming deep book at the monomorphization ceiling under the
    PRODUCTION state backend: the widest per-key state row (40 live prices
    + the 4·n change-tracked snapshot) meets RocksDBStateStoreProvider —
    state on local disk + changelog checkpoints, not executor heap (the
    100 TB contract; previously rocksdb × deep-state met only in a parity
    test). The provider class is read per query from the session conf, so
    the flip is scoped try/finally and never leaks into other queries.
    Memory sink = the oracle-parity rig (bounded result for the hash
    check), same caveat as ob_stream_keyed_mutations_top2 — a production
    deployment writes a parquet/kafka sink in update mode instead."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from polars_order_book_spark.sources.tables import load_table_stream
        from polars_order_book_spark.streaming import top_n_levels_stream

        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        try:
            spark.conf.set(
                key,
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
            ev = load_table_stream(spark, sf_dir, "events")
            stream = bs.keyed_deep_updates_stream(ev)
            snaps = top_n_levels_stream(stream, "updates", by=["book"], n=n)
            return _run_stream(
                snaps, "update", f"{sf_dir}/events.parquet",
                lambda t: t.select("book", "seq", *snapshot_columns(n)),
            )
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    return run


def _events_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming gap sessionization (session_window), driven to
    completion with availableNow -> complete-mode memory sink. Boundary
    semantics are pinned equal to the batch lag-rule, so the streaming
    output gets the full batch oracle hash check."""
    from polars_order_book_spark.sources.tables import load_table, load_table_stream
    from polars_order_book_spark.streaming import sessionize_stream

    # Loud unit sanity check (r3 regression guard): a nanos/micros mix-up
    # shrinks or inflates every timestamp 1000x, which silently merges or
    # splits sessions instead of erroring. Bound-check the batch view of the
    # same file before trusting the stream.
    lo, hi = (
        load_table(spark, sf_dir, "events")
        .selectExpr("min(year(ts))", "max(year(ts))")
        .first()
    )
    if lo is None:
        raise ValueError("events table is empty — nothing to sessionize")
    if lo < 1990 or hi > 2100:
        raise ValueError(
            f"events.ts years [{lo}, {hi}] outside sane range — probable "
            "timestamp unit mismatch (nanos vs micros) in the source parquet"
        )
    ev = load_table_stream(spark, sf_dir, "events")
    sess = sessionize_stream(ev, gap="30 minutes")
    return _run_stream(
        sess, "complete", f"{sf_dir}/events.parquet",
        lambda t: t.select("user_id", "n_events", "start_us", "end_us"),
    )


def _events_sessionize_stream_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SHAPED streaming sessionizer: watermark + append mode + file
    sink. Complete-mode (events_sessionize_stream) re-emits every session each
    trigger and materializes the whole table in driver memory — fine as an
    sf0.01 oracle harness, a driver OOM at 100×. Append mode emits each
    session exactly once when the watermark passes its close and writes to
    durable parquet; state is bounded to open sessions. The oracle is
    restricted to watermark-closed sessions (gap 30m, delay 1h): a session
    emits when max_event_ts + gap < final watermark = global_max_ts - delay."""
    from polars_order_book_spark.sources.tables import load_table_stream
    from polars_order_book_spark.streaming import sessionize_stream

    ev = load_table_stream(spark, sf_dir, "events")
    sess = sessionize_stream(ev, gap="30 minutes", watermark="1 hour")
    return _run_stream(
        sess, "append", f"{sf_dir}/events.parquet",
        lambda t: t.select("user_id", "n_events", "start_us", "end_us"),
        parquet=True,
    )


def _events_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every purchase within 30 minutes AFTER a
    click by the same user (click->purchase attribution pairs). Both sides
    come from the same streaming source (a self-join); Spark plans a
    StreamingSymmetricHashJoin shuffled on user_id with watermark-bounded
    state on both sides. availableNow replays the table in one micro-batch,
    where eviction never fires, so the append-mode output is the complete
    pair set and gets the full batch-join oracle hash. In production the
    7-day watermark bounds each side's buffered state; the range bound
    additionally evicts clicks >30min past the right-side watermark."""
    from polars_order_book_spark.sources.tables import load_table_stream
    from polars_order_book_spark.streaming import interval_join_stream

    ev = load_table_stream(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    pairs = interval_join_stream(
        clicks,
        purchases,
        on="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        upper="INTERVAL 30 MINUTES",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    return _run_stream(
        pairs, "append", f"{sf_dir}/events.parquet",
        lambda t: t.select("user_id", "click_id", "purchase_id", "gap_us"),
    )


EVENTS_ATTRIBUTION_STREAM_SQL = """
SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
"""


def _events_attribution_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: attribution pairs PLUS clicks
    that provably converted nothing (nulls) — the shape that feeds negative
    training examples. Unmatched clicks emit only when the watermark closes
    their 30-minute window; the oracle restricts its unmatched side to
    exactly those (global watermark = min over both sides of ms-truncated
    max-event-time minus the 1-minute delay — the same ms-precision modeling
    the append-mode sessionizer oracle uses). Matched pairs emit on arrival
    and are oracle-complete."""
    from polars_order_book_spark.sources.tables import load_table_stream
    from polars_order_book_spark.streaming import interval_join_stream

    ev = load_table_stream(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    pairs = interval_join_stream(
        clicks,
        purchases,
        on="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        upper="INTERVAL 30 MINUTES",
        left_watermark="1 minute",
        right_watermark="1 minute",
        how="left_outer",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    return _run_stream(
        pairs, "append", f"{sf_dir}/events.parquet",
        lambda t: t.select("user_id", "click_id", "purchase_id", "gap_us"),
    )


EVENTS_ATTRIBUTION_OUTER_SQL = """
WITH c AS (
    SELECT user_id, event_id AS click_id, ts AS cts FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, event_id AS purchase_id, ts AS pts FROM events WHERE event_type = 'purchase'
), wm AS (
    SELECT least(
        (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'click'),
        (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'purchase')
    ) * 1000 - 60000000 AS wm_us
), matched AS (
    SELECT c.user_id, c.click_id, p.purchase_id,
           epoch_us(p.pts) - epoch_us(c.cts) AS gap_us
    FROM c JOIN p ON c.user_id = p.user_id
     AND p.pts >= c.cts AND p.pts < c.cts + INTERVAL 30 MINUTE
)
SELECT user_id, click_id, purchase_id, gap_us FROM matched
UNION ALL
SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM c, wm
WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
  AND epoch_us(c.cts) + 1800000000 <= wm.wm_us
"""


def _events_hourly_stream_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation — THE canonical Structured
    Streaming operator (window + watermark + append mode + file sink):
    per-hour event counts and decimal-exact value sums, each window emitted
    exactly once when the watermark passes its end; state = open windows
    only. Oracle restricts to watermark-closed windows with the same
    ms-truncated arithmetic as the append-mode sessionizer."""
    from polars_order_book_spark.sources.tables import load_table_stream

    ev = load_table_stream(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("hour_start_us"),
            "n_events",
            "sum_value",
        )
    )
    return _run_stream(
        agg, "append", f"{sf_dir}/events.parquet",
        lambda t: t.select("hour_start_us", "n_events", "sum_value"),
        parquet=True,
    )


EVENTS_HOURLY_STREAM_APPEND_SQL = """
WITH wm AS (
    SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events
)
SELECT epoch_us(date_trunc('hour', ts)) AS hour_start_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM events, wm
GROUP BY epoch_us(date_trunc('hour', ts)), wm.wm_us
HAVING hour_start_us + 3600000000 <= wm.wm_us
"""


def _events_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the unbounded event stream joined to
    the bounded customer dimension (user -> synthetic custkey mapping), then
    aggregated per market segment. The static side re-resolves per
    micro-batch (picking up dim updates) and broadcasts — the stream never
    shuffles on the join key. Update-mode memory sink; final counts taken
    as max per segment (monotone under accumulation)."""
    from polars_order_book_spark.sources.tables import load_table_stream

    ev = load_table_stream(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = ev.withColumn(
        "c_custkey", F.col("user_id") % 1500 + 1
    ).join(F.broadcast(cust), "c_custkey")
    agg = enriched.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_events"))
    return _run_stream(
        agg, "update", f"{sf_dir}/events.parquet",
        lambda t: t.groupBy("c_mktsegment").agg(F.max("n_events").alias("n_events")),
    )


EVENTS_ENRICHED_STREAM_SQL = """
SELECT c_mktsegment, count(*) AS n_events
FROM events JOIN customer ON user_id % 1500 + 1 = c_custkey
GROUP BY c_mktsegment
"""


def _bookgen_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 DSv2-Python): the deterministic
    bookgen event generator read through spark.read.format("bookgen") with
    a seq-range predicate PUSHED INTO the source (pushFilters narrows the
    generated domain before any row exists), aggregated per book with exact
    integer sums. The DuckDB oracle regenerates the same rows from the same
    modular formulas over generate_series."""
    from polars_order_book_spark.sources import bookgen

    bookgen.register(spark)
    df = (
        spark.read.format("bookgen")
        .option("n_events", 20000)
        .option("n_partitions", 8)
        .load()
    )
    return (
        df.where(F.col("seq") <= 14999)
        .groupBy("book")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price") * F.col("qty")).alias("pv"),
            F.sum(F.when(F.col("is_bid"), F.col("qty")).otherwise(0)).alias("bid_qty"),
        )
    )


def _bookgen_source_agg_sql() -> str:
    from polars_order_book_spark.sources import bookgen

    return f"""
SELECT book, count(*) AS n,
       CAST(sum(price * qty) AS BIGINT) AS pv,
       CAST(sum(CASE WHEN is_bid THEN qty ELSE 0 END) AS BIGINT) AS bid_qty
FROM ({bookgen.oracle_sql(20000)})
WHERE seq <= 14999
GROUP BY book
"""


def _ob_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's n1-vs-n2 consistency golden as an oracle query (ref:
    calculate_bbo.rs:372-519): the SAME stream computed at n=1 (fast path)
    and n=2 (general sorted-list path) must agree on every level-1 column.
    Both sides are joined per seq and hashed against one oracle book, so any
    fastpath divergence breaks the value hash."""
    stream = bs.updates_stream(load_table(spark, sf_dir, "events"))
    lvl1 = ["bid_price_1", "bid_qty_1", "ask_price_1", "ask_qty_1"]
    n1 = top_n_levels_from_price_updates(stream, n=1).select(
        "seq", *[F.col(c).alias(f"{c}_n1") for c in lvl1]
    )
    n2 = top_n_levels_from_price_updates(stream, n=2).select(
        "seq", *[F.col(c).alias(f"{c}_n2") for c in lvl1]
    )
    return n1.join(n2, on="seq")


def _ob_consistency_sql() -> str:
    lvl1 = ["bid_price_1", "bid_qty_1", "ask_price_1", "ask_qty_1"]
    inner = bs.oracle_book_sql(bs.UPDATES_STREAM_SQL, 1, "updates")
    cols = ", ".join(
        [f"{c} AS {c}_n1" for c in lvl1] + [f"{c} AS {c}_n2" for c in lvl1]
    )
    return f"SELECT seq, {cols} FROM ({inner}) b"


def _sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable-output round trip: write_partitioned (hive layout, dynamic
    overwrite) then read_partitioned, hashed against DuckDB reading the
    ORIGINAL table — proves the sink loses no rows/values and the partition
    column survives the directory encoding."""
    from polars_order_book_spark.sources.sinks import read_partitioned, write_partitioned

    part = load_table(spark, sf_dir, "part")

    def build(tmp):
        path = os.path.join(tmp, "part")
        write_partitioned(part, path, ["p_brand"])
        back = read_partitioned(spark, path)
        return back.select("p_partkey", "p_name", "p_brand", "p_retailprice")

    return _in_scratch(build)


SINK_ROUNDTRIP_SQL = """
SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
"""


def _orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip: the columnar format Spark supports natively besides
    parquet (warehouse interop — Hive/Trino estates are ORC-heavy). Write
    the orders table to ORC (zlib, the ORC default), read it back, hash
    against DuckDB reading the ORIGINAL parquet — proves type fidelity
    (BIGINT/DOUBLE/VARCHAR/TIMESTAMP) across the format boundary. ORC
    timestamps round-trip as TIMESTAMP under the session's UTC pin; the
    epoch-seconds export keeps the oracle encoding-agnostic."""
    orders = load_table(spark, sf_dir, "orders")

    def build(tmp):
        path = os.path.join(tmp, "orders")
        orders.write.mode("overwrite").format("orc").save(path)
        back = spark.read.format("orc").load(path)
        return back.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.unix_timestamp("o_orderdate").alias("o_date_epoch"),
        )

    return _in_scratch(build)


ORC_ROUNDTRIP_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       CAST(epoch(o_orderdate) AS BIGINT) AS o_date_epoch
FROM orders
"""


EVENTS_SESSIONS_STREAM_SQL = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {hq.SESSION_GAP_SECONDS} * 1000000
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
           sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
)
SELECT user_id, count(*) AS n_events,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) AS end_us
FROM sess GROUP BY user_id, session_no
"""


# Append-mode oracle: only watermark-closed sessions are emitted. A session
# closes when its window end (last event + gap) falls at or below the final
# watermark. Spark tracks watermarks at MILLISECOND precision (max event time
# is floored to ms before subtracting the delay) — mirrored by the // 1000.
_SESSION_GAP_US = 1_800_000_000  # 30 min, matches sessionize_stream gap
_SESSION_WM_DELAY_MS = 3_600_000  # 1 hour watermark delay
EVENTS_SESSIONS_STREAM_APPEND_SQL = f"""
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
           sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
),
agg AS (
    SELECT user_id, count(*) AS n_events,
           epoch_us(min(ts)) AS start_us,
           epoch_us(max(ts)) AS end_us
    FROM sess GROUP BY user_id, session_no
),
wm AS (
    SELECT (max(epoch_us(ts)) // 1000 - {_SESSION_WM_DELAY_MS}) * 1000 AS wm_us
    FROM events
)
SELECT a.user_id, a.n_events, a.start_us, a.end_us
FROM agg a, wm
WHERE a.end_us + {_SESSION_GAP_US} <= wm.wm_us
"""


# ---------------------------------------------------------------------------
# pipeline operators (dedup / similarity / text / multimodal)
# ---------------------------------------------------------------------------

def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs)


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_duplicates(docs, threshold=0.5)


def _minhash_sql_core(pairs_cte: str, a_col: str, b_col: str) -> str:
    """Shared DuckDB MinHash+LSH pipeline prologue (wide affine-permutation
    formulation matching operators.dedup.minhash_signatures); ``pairs_cte``
    supplies the candidate join (triangular self-join for the batch
    pipeline, cross-side for the incremental one) producing columns
    (a_col, b_col)."""
    p = dedup.MINHASH_PRIME
    hbase = "(CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % {})".format(p)
    mins = ",\n           ".join(
        f"min(({2 * s + 1} * hb + {10007 * s + 1}) % {p}) AS mh_{s}" for s in range(16)
    )
    band_rows = []
    for b in range(4):
        cols = ", ".join(f"CAST(mh_{b * 4 + j} AS VARCHAR)" for j in range(4))
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_hash FROM sig"
        )
    bands_union = "\n    UNION ALL\n    ".join(band_rows)
    return f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
sh0 AS (
    SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS sh
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 3 AND i <= len(t) - 3
),
sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
hashed AS (SELECT doc_id, sh, {hbase} AS hb FROM sh),
sig AS (
    SELECT doc_id,
           {mins}
    FROM hashed
    GROUP BY doc_id
),
bands AS (
    {bands_union}
),
pairs AS (
    {pairs_cte}
),
dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
inter AS (
    SELECT p.{a_col}, p.{b_col}, count(*) AS n_inter
    FROM pairs p
    JOIN dsh a ON a.doc_id = p.{a_col}
    JOIN dsh b ON b.doc_id = p.{b_col} AND b.sh = a.sh
    GROUP BY p.{a_col}, p.{b_col}
)
SELECT i.{a_col}, i.{b_col}, i.n_inter,
       CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.{a_col}
JOIN sizes sb ON sb.doc_id = i.{b_col}
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
"""


def _minhash_sql() -> str:
    return _minhash_sql_core(
        """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id < b.doc_id""",
        "doc_a",
        "doc_b",
    )


def _minhash_incremental_sql() -> str:
    """Cross-side candidates only: new = odd doc_ids, corpus = even."""
    return _minhash_sql_core(
        """SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0""",
        "new_id",
        "corpus_id",
    )


def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the odd-doc_id half as the NEW batch checked
    against the even-doc_id half as the EXISTING corpus — a bipartite band
    join (operators.dedup.minhash_lsh_incremental_pairs), so within-new and
    within-corpus pairs are never generated and the crawl loop never re-pays
    corpus x corpus."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    return dedup.minhash_lsh_incremental_pairs(new, corpus)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_signatures(docs)


SIMHASH_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents
),
bits AS (
    SELECT doc_id, b,
           (CAST(concat('0x', substr(md5(tok), CAST(b // 4 AS INT) + 1, 1)) AS INT)
            // CAST(pow(2, b % 4) AS INT)) % 2 AS bit
    FROM tok, range(0, 32) r(b)
),
votes AS (
    SELECT doc_id, b, sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS vote
    FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def _dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.4 within each language block
    (operators/dedup.py ngram_jaccard_pairs): hash-ordered per-doc shingle
    arrays, prefix-only explode, array_intersect verification. Also serves
    dedup_ngram_jaccard_arrays, the name of the retired second plan."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.4, block_col="lang")


JACCARD_SQL = """
WITH toks AS (
    SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, lang, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS sh
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 3 AND i <= len(t) - 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.4
"""


def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH pair graph -> survivor per
    duplicate cluster (operators/dedup.py neardup_components): verified
    duplicate pairs are tiny relative to the corpus, so below the 5M-edge
    cap the components come from driver union-find over the checkpointed
    pair list (zero iterative Spark jobs — the BLAS/BPE bounded-collect
    pattern); past the cap it fails over to the large-star/small-star
    rounds. Also serves dedup_components_prop, the name of the retired
    min-label propagation."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_duplicates(docs, threshold=0.5)
    return dedup.neardup_components(pairs)


def _dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same component/survivor contract, computed by the distributed
    large-star/small-star rounds (O(log n) rounds independent of cluster
    diameter) — the path dedup_components takes above its edge cap, kept
    under its own driver oracle so that path stays verified."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_duplicates(docs, threshold=0.5)
    return dedup.neardup_components_star(pairs)


def _components_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
)
SELECT node AS doc_id, min(r) AS component, (node = min(r)) AS is_survivor
FROM reach GROUP BY node
"""


_SHINGLE_PROLOGUE_SQL = r"""
toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
sh0 AS (
    SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS sh
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 3 AND i <= len(t) - 3
),
dsh AS (SELECT DISTINCT doc_id, sh FROM sh0),
sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)
"""


def _dedup_recall_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-scheme recall vs exact ground truth on the doc_id<50 sample
    (operators/dedup.py banding_recall_eval): shared-shingle equi-join truth,
    full LSH pipeline prediction, one (n_true, n_caught, recall_micro) row —
    the ann_recall_* eval pattern applied to dedup."""
    return dedup.banding_recall_eval(load_table(spark, sf_dir, "documents"))


def _dedup_recall_banding_sql() -> str:
    return f"""
WITH {_SHINGLE_PROLOGUE_SQL.strip()},
pairs0 AS (
    SELECT DISTINCT least(s.doc_id, o.doc_id) AS doc_a, greatest(s.doc_id, o.doc_id) AS doc_b
    FROM dsh s JOIN dsh o ON s.sh = o.sh AND s.doc_id <> o.doc_id
    WHERE s.doc_id < 50
),
inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS n_inter
    FROM pairs0 p
    JOIN dsh a ON a.doc_id = p.doc_a
    JOIN dsh b ON b.doc_id = p.doc_b AND b.sh = a.sh
    GROUP BY p.doc_a, p.doc_b
),
truth AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
),
pred AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}))
SELECT CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(p.doc_a) AS BIGINT) AS n_caught,
       CASE WHEN count(*) > 0
            THEN CAST(FLOOR(CAST(count(p.doc_a) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                            * 1000000 + 0.5) AS BIGINT) END AS recall_micro
FROM truth t LEFT JOIN pred p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
"""


def _docs_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 90/5/5 split: the split key is the near-dup COMPONENT id
    (own id when un-duplicated), so a duplicate cluster can never straddle
    the train/eval wall (operators/dedup.py leakage_safe_split)."""
    docs = load_table(spark, sf_dir, "documents")
    comps = dedup.neardup_components(dedup.minhash_lsh_duplicates(docs, threshold=0.5))
    out = dedup.leakage_safe_split(
        docs, comps, [0.9, 0.05, 0.05], ["train", "val", "test"]
    )
    return out.select("doc_id", "lang", "group_id", "split")


def _docs_leakage_split_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    b = f"{hash64_sql('CAST(group_id AS VARCHAR)')} % 1000000"
    return f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
),
comp AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node),
base AS (
    -- VARCHAR group key, mirroring leakage_safe_split (r8): a long cast
    -- would NULL out non-numeric doc ids and silently NULL the whole split
    SELECT d.doc_id, d.lang, CAST(coalesce(c.component, d.doc_id) AS VARCHAR) AS group_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, lang, group_id,
       CASE WHEN {b} < 900000 THEN 'train'
            WHEN {b} < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM base
"""


def _documents_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline: LSH pairs -> components (auto: driver
    union-find under the edge cap, star rounds above) -> drop non-survivors;
    returns the kept corpus (ids only, hash-stable)."""
    docs = load_table(spark, sf_dir, "documents")
    comps = dedup.neardup_components(dedup.minhash_lsh_duplicates(docs, threshold=0.5))
    return dedup.apply_dedup(docs, comps).select("doc_id", "lang")


def _documents_deduped_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
),
losers AS (
    SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(r)
)
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
"""


def _docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, engine-portable 25% sample by hash(doc_id) — stable
    under repartitioning/appends, unlike df.sample()."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", 0.25).select("doc_id", "lang")


HASH_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '')), 1, 15)) AS BIGINT)
      % 1000000 < 250000
"""


def _docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50 weighted sample of documents, selection probability
    proportional to n_chars without replacement (Efraimidis-Spirakis rank
    u^(1/w) with the portable-hash uniform) — deterministic, partitioning-
    independent, engine-portable; global top-k runs as per-partition
    TakeOrderedAndProject."""
    from polars_order_book_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_sample(docs, "doc_id", "n_chars", 50, salt="ws1")
    return out.select("doc_id", "lang", "source", "n_chars")


def _docs_weighted_sample_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    h = hash64_sql("CAST(doc_id AS VARCHAR) || 'ws1'")
    return f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE n_chars IS NOT NULL AND n_chars > 0
ORDER BY pow(({h} + 1) / 1152921504606846977.0,
             1.0 / CAST(n_chars AS DOUBLE)) DESC, doc_id
LIMIT 50
"""


def _docs_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs over documents: blocked on
    (lang, 64-char length bucket +/- 1), triangle-salted self-join inside
    blocks, banded levenshtein(<=10) verify on 64-char normalized prefixes
    — the record-linkage dedup flavor that catches typo-level mutations."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.fuzzy_duplicate_pairs(docs, block_cols=["lang"])


def _docs_fuzzy_pairs_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same output contract as documents_fuzzy_pairs, via the PassJoin-style
    segment-pigeonhole candidate strategy (Li/Deng/Feng VLDB'11): join-key
    selectivity comes from ~6-char exact segment CONTENT (grows with the
    corpus) instead of the fixed (lang, length-bucket) grid (saturates —
    measured 55.8x at 10x data). Shares the buckets oracle verbatim
    because the admission rule and verify are identical. Keeps the default
    candidate_budget: the content-keyed advantage is PROVEN on an
    open-vocabulary Heaps-law corpus at max_dist=3 (16-char segments,
    1.51x at 10x data while buckets at the same tau dies at 474M
    candidates — BENCH_LOCAL_openvocab.json, r9) but at THIS query's
    default max_dist=10 the ~6-char segments saturate on any corpus's
    fixed common-word core, so the honest contract is the same enforced
    budget."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.fuzzy_duplicate_pairs(
        docs, block_cols=["lang"], candidate_strategy="segments",
    )


def _docs_fuzzy_pairs_sql(max_dist: int = 10) -> str:
    """Output-spec oracle for the fuzzy family (any candidate strategy):
    block + bucket-adjacency admission + levenshtein ≤ max_dist."""
    return f"""
WITH rows AS (
    SELECT doc_id, lang,
           substr(lower(trim(text)), 1, 64) AS pfx,
           CAST(floor(length(lower(trim(text))) / 64) AS BIGINT) AS lb
    FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
FROM rows a JOIN rows b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.lb - b.lb) <= 1
WHERE levenshtein(a.pfx, b.pfx) <= {max_dist}
"""


DOCS_FUZZY_PAIRS_SQL = _docs_fuzzy_pairs_sql()


def _docs_fuzzy_pairs_segments_tau3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PROVEN scale configuration of the segments strategy (r9,
    BENCH_LOCAL_openvocab.json): max_dist=3 gives 16-char segment keys,
    which stay content-selective on open-vocabulary corpora (1.51× at 10×
    data with exact planted-pair recall, while length-bucket blocking at
    the same tau fails its budget at 474M candidates). This is the
    configuration a typo-level dedup pass should actually run at 100 TB;
    the tau=10 twin documents the budget-guarded wide-net variant."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.fuzzy_duplicate_pairs(
        docs, block_cols=["lang"], candidate_strategy="segments", max_dist=3,
    )


def _docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: 128-char windows advancing by 96 (32 overlap) per
    document — map-only JVM expansion (sequence+explode+substr), chunk
    count in exact integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_text(docs, size=128, overlap=32)


DOCS_CHUNKS_SQL = """
SELECT doc_id, CAST(i AS BIGINT) AS chunk_no, CAST(i * 96 AS BIGINT) AS char_start,
       substr(text, CAST(i * 96 + 1 AS INT), 128) AS chunk
FROM documents,
     LATERAL (SELECT unnest(range(0, greatest(1, (length(text) - 32 + 95) // 96))) AS i) t
"""


def _docs_hash_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-contained retrieval pipeline with ZERO model weights: documents
    → feature-hashing embeddings (64-dim L2-normalized token-count
    buckets, text.hash_embed) → exact cosine top-5 neighbors for the first
    3 docs. Composes the text encoder straight into the ANN operator —
    the oracle re-derives the whole pipeline in SQL."""
    from polars_order_book_spark.operators.text import hash_embed

    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint: the embedding relation feeds BOTH the vector scan and
    # the (broadcast) query side — truncate lineage so the token-explode +
    # two-aggregate subtree runs once, not per branch.
    emb = (
        hash_embed(docs)
        .withColumnRenamed("doc_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk_bruteforce(emb, queries, k=5)


def _docs_hash_embed_knn_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    h = hash64_sql("tok")
    return f"""
WITH tk AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents
), bc AS (
    SELECT doc_id, {h} % 64 AS d, count(*) AS c
    FROM tk WHERE tok <> '' GROUP BY 1, 2
), ids AS (SELECT DISTINCT doc_id FROM documents),
grid AS (SELECT ids.doc_id, gs.d FROM ids, (SELECT unnest(range(0, 64)) AS d) gs),
dense AS (
    SELECT g.doc_id, g.d, CAST(COALESCE(bc.c, 0) AS DOUBLE) AS c
    FROM grid g LEFT JOIN bc ON g.doc_id = bc.doc_id AND g.d = bc.d
), vecs AS (
    SELECT doc_id, list(c ORDER BY d) AS v FROM dense GROUP BY doc_id
), unit AS (
    SELECT doc_id,
           CASE WHEN sqrt(list_dot_product(v, v)) > 0
                THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                ELSE v END AS v
    FROM vecs
), sim AS (
    SELECT q.doc_id AS query_id, n.doc_id AS neighbor_id,
           list_dot_product(q.v, n.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cosine
    FROM unit n CROSS JOIN (SELECT * FROM unit WHERE doc_id < 3) q
    WHERE n.doc_id <> q.doc_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM sim
)
WHERE rank <= 5
"""


def _docs_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical candidates fused with dense
    hash-embedding cosine top-20 (query = doc 0) by reciprocal-rank fusion
    (operators/retrieval.py). Fusion consumes RANKS, so the only float in
    the output is the fixed two-term 1/(60+r) sum — hash-exact. The global
    ranking windows run over CANDIDATE lists (term hits / top-k), never the
    corpus."""
    from polars_order_book_spark.operators import retrieval
    from polars_order_book_spark.operators.text import bm25_scores, hash_embed

    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_scores(docs, ["spark", "query", "data"])
    emb = (
        hash_embed(docs)
        .withColumnRenamed("doc_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = similarity.cosine_topk_bruteforce(emb, queries, k=20).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return retrieval.rrf_fuse(
        [("lex", lex, "score", "bm25_micros"), ("dense", dense, "rank", "rank")]
    )


def _docs_hybrid_search_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    h = hash64_sql("tok2")
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, sum(dl) AS t FROM dl),
qtok AS (SELECT doc_id, token FROM tok WHERE token IN ('spark', 'query', 'data')),
tf AS (SELECT doc_id, token, count(*) AS tf FROM qtok GROUP BY doc_id, token),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM qtok GROUP BY token),
scored AS (
    SELECT tf.doc_id,
           CAST(FLOOR(
             ((CAST(s.n AS DOUBLE) + 1.0) / (CAST(d.df AS DOUBLE) + 1.0))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                (CAST(dl.dl AS DOUBLE) * CAST(s.n AS DOUBLE) / CAST(s.t AS DOUBLE))))
             * 1000000.0 + 0.5
           ) AS BIGINT) AS m
    FROM tf
    JOIN dfreq d USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
),
bm AS (SELECT doc_id, sum(m) AS bm25_micros FROM scored GROUP BY doc_id),
lexr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25_micros DESC, doc_id) AS BIGINT)
             AS rank_lex
    FROM bm
),
tk2 AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok2
    FROM documents
),
bc AS (
    SELECT doc_id, {h} % 64 AS d, count(*) AS c
    FROM tk2 WHERE tok2 <> '' GROUP BY 1, 2
),
ids AS (SELECT DISTINCT doc_id FROM documents),
grid AS (SELECT ids.doc_id, gs.d FROM ids, (SELECT unnest(range(0, 64)) AS d) gs),
densev AS (
    SELECT g.doc_id, g.d, CAST(COALESCE(bc.c, 0) AS DOUBLE) AS c
    FROM grid g LEFT JOIN bc ON g.doc_id = bc.doc_id AND g.d = bc.d
),
vecs AS (SELECT doc_id, list(c ORDER BY d) AS v FROM densev GROUP BY doc_id),
unit AS (
    SELECT doc_id,
           CASE WHEN sqrt(list_dot_product(v, v)) > 0
                THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                ELSE v END AS v
    FROM vecs
),
sim AS (
    SELECT n.doc_id,
           list_dot_product(q.v, n.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cosine
    FROM unit n CROSS JOIN (SELECT * FROM unit WHERE doc_id = 0) q
    WHERE n.doc_id <> q.doc_id
),
denser AS (
    SELECT doc_id, rank_dense FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
                 AS rank_dense
        FROM sim
    ) WHERE rank_dense <= 20
)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       l.rank_lex, d.rank_dense,
       (COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + l.rank_lex AS DOUBLE), CAST(0.0 AS DOUBLE))
        + COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + d.rank_dense AS DOUBLE), CAST(0.0 AS DOUBLE))) AS rrf
FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id
"""


def _docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced mixture draw (alpha=0.5): 100 documents with
    per-language quotas ∝ sqrt(n_lang) — upweights small languages relative
    to raw share, the standard multilingual rebalancing. sqrt is IEEE
    correctly-rounded, weights quantize to integer micros, and quotas use
    exact integer floor division (Python bigint / DuckDB hugeint agree), so
    the draw hashes bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_mix_sample(docs, 100, by="lang", alpha=0.5)


def _docs_temperature_mix_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    h = hash64_sql("concat(CAST(doc_id AS VARCHAR), '')")
    return f"""
WITH c AS (
    SELECT lang, count(*) AS n FROM documents WHERE lang IS NOT NULL GROUP BY lang
),
w AS (
    SELECT lang,
           CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS m
    FROM c
),
tot AS (SELECT sum(m) AS mm FROM w),
q AS (SELECT lang, (100 * m) // tot.mm AS quota FROM w, tot),
ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS sample_rank
    FROM documents WHERE lang IS NOT NULL
)
SELECT r.doc_id, r.lang, CAST(r.sample_rank AS BIGINT) AS sample_rank,
       CAST(q.quota AS BIGINT) AS quota
FROM ranked r JOIN q USING (lang)
WHERE r.sample_rank <= q.quota
"""


def _docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sample: 5 documents per (lang, source) stratum
    in portable-hash order — balanced eval-set construction. One shuffle on
    the strata key; rank within stratum is engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, 5, strata=["lang", "source"]).select(
        "doc_id", "lang", "source", "sample_rank"
    )


STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang, source, sample_rank FROM (
    SELECT doc_id, lang, source,
           CAST(row_number() OVER (
               PARTITION BY lang, source
               ORDER BY CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '')), 1, 15)) AS BIGINT),
                        doc_id
           ) AS BIGINT) AS sample_rank
    FROM documents
)
WHERE sample_rank <= 5
"""


def _part_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (operators/diff.py): the part table vs a
    deterministically perturbed next version (keys %97 removed, names %13
    rewritten, keys %101 re-added under offset ids) — the backfill-validation
    primitive. One full-outer shuffle join on the key comparing ONE md5 row
    fingerprint; output is churn-sized, never table-sized."""
    from polars_order_book_spark.operators.diff import diff_snapshots

    part = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    new = part.where(pk % 97 != 0).withColumn(
        "p_name",
        F.when(pk % 13 == 0, F.concat(F.col("p_name"), F.lit("*"))).otherwise(
            F.col("p_name")
        ),
    )
    adds = part.where(pk % 101 == 0).withColumn("p_partkey", pk + 1_000_000)
    new = new.unionByName(adds)
    return diff_snapshots(
        part, new, ["p_partkey"], compare_cols=["p_name", "p_brand"]
    )


PART_SNAPSHOT_DIFF_SQL = """
WITH o AS (
    SELECT p_partkey,
           md5(concat_ws(chr(31), coalesce(p_name, chr(0)), coalesce(p_brand, chr(0)))) AS old_fingerprint
    FROM part
), newv AS (
    SELECT p_partkey,
           CASE WHEN p_partkey % 13 = 0 THEN p_name || '*' ELSE p_name END AS p_name,
           p_brand
    FROM part WHERE p_partkey % 97 <> 0
    UNION ALL
    SELECT p_partkey + 1000000, p_name, p_brand FROM part WHERE p_partkey % 101 = 0
), n AS (
    SELECT p_partkey,
           md5(concat_ws(chr(31), coalesce(p_name, chr(0)), coalesce(p_brand, chr(0)))) AS new_fingerprint
    FROM newv
)
SELECT coalesce(o.p_partkey, n.p_partkey) AS p_partkey,
       CASE WHEN o.p_partkey IS NULL THEN 'added'
            WHEN n.p_partkey IS NULL THEN 'removed'
            WHEN old_fingerprint <> new_fingerprint THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       old_fingerprint, new_fingerprint
FROM o FULL OUTER JOIN n ON o.p_partkey = n.p_partkey
WHERE NOT (o.p_partkey IS NOT NULL AND n.p_partkey IS NOT NULL
           AND old_fingerprint = new_fingerprint)
"""


def _orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/constraints.py): not-null /
    range / uniqueness / referential-integrity rules over orders, all
    row-level predicates folded into ONE aggregate pass, the FK as a
    broadcast anti join. Output is rules-sized — the shape a scheduler gates
    a 100 TB promotion on."""
    from polars_order_book_spark.operators import constraints as C

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rules = [
        C.not_null("custkey_not_null", "o_custkey"),
        C.unique("orderkey_unique", "o_orderkey"),
        C.predicate("totalprice_positive", "o_totalprice > 0"),
        C.predicate("orderdate_min", "o_orderdate >= TIMESTAMP '1995-01-01'"),
        C.foreign_key("custkey_fk", "o_custkey", "customer"),
    ]
    return C.check_constraints(
        orders,
        rules,
        refs={"customer": customer.selectExpr("c_custkey AS o_custkey")},
    )


ORDERS_QUALITY_SQL = """
SELECT 'custkey_not_null' AS rule, 'predicate' AS kind,
       CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
       count(*) AS n_checked
FROM orders
UNION ALL
SELECT 'orderkey_unique', 'unique',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT), count(*)
FROM orders
UNION ALL
SELECT 'totalprice_positive', 'predicate',
       CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT), count(*)
FROM orders
UNION ALL
SELECT 'orderdate_min', 'predicate',
       CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' THEN 0 ELSE 1 END) AS BIGINT), count(*)
FROM orders
UNION ALL
SELECT 'custkey_fk', 'foreign_key',
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       count(*)
FROM orders
"""


def _ob_nbbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated cross-book best bid/offer (NBBO) over the 7-book keyed
    stream: each book folds independently (the reference's multi-product
    workflow), then operators/nbbo.py folds the books' level-1 snapshots in
    seq order, one pass per seq chunk seeded with every book's last quote,
    and takes max-bid / min-ask with TOTAL displayed size at the best price.
    A null price is an empty side and stops contributing (stale-quote hazard
    pinned by pytest). Also runs ob_nbbo_keyed_chunked and
    ob_nbbo_keyed_bounded, the names of the retired chunk_size modes: every
    call now takes the one chunk rule, seq div W."""
    from polars_order_book_spark.operators.nbbo import nbbo

    stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
    snaps = top_n_levels_from_price_mutations(stream, by=["book"], n=1)
    return nbbo(snaps, books=list(range(7)))


def _ob_nbbo_sql() -> str:
    inner = bs.oracle_book_sql(bs.KEYED_MUTATIONS_STREAM_SQL, 1, "mutations", key="book")
    books = range(7)
    piv = ",\n           ".join(
        f"max(CASE WHEN book = {b} THEN coalesce({src}, -1) END) AS {dst}{b}"
        for b in books
        for src, dst in (
            ("bid_price_1", "rbp"), ("bid_qty_1", "rbq"),
            ("ask_price_1", "rap"), ("ask_qty_1", "raq"),
        )
    )
    fill = ",\n           ".join(
        f"NULLIF(last_value(r{c}{b} IGNORE NULLS) OVER "
        f"(ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS {c}{b}"
        for b in books
        for c in ("bp", "bq", "ap", "aq")
    )
    nbb = "greatest(" + ", ".join(f"bp{b}" for b in books) + ")"
    nbo = "least(" + ", ".join(f"ap{b}" for b in books) + ")"
    nbb_qty = " + ".join(f"CASE WHEN bp{b} = nbb_price THEN bq{b} ELSE 0 END" for b in books)
    nbo_qty = " + ".join(f"CASE WHEN ap{b} = nbo_price THEN aq{b} ELSE 0 END" for b in books)
    return f"""
WITH ob AS ({inner}),
piv AS (
    SELECT seq,
           {piv}
    FROM ob GROUP BY seq
),
state AS (
    SELECT seq,
           {fill}
    FROM piv
),
best AS (
    SELECT seq, {nbb} AS nbb_price, {nbo} AS nbo_price,
           bp0, bq0, bp1, bq1, bp2, bq2, bp3, bq3, bp4, bq4, bp5, bq5, bp6, bq6,
           ap0, aq0, ap1, aq1, ap2, aq2, ap3, aq3, ap4, aq4, ap5, aq5, ap6, aq6
    FROM state
)
SELECT seq, nbb_price,
       CASE WHEN nbb_price IS NULL THEN NULL ELSE {nbb_qty} END AS nbb_qty,
       nbo_price,
       CASE WHEN nbo_price IS NULL THEN NULL ELSE {nbo_qty} END AS nbo_qty
FROM best
"""


def _ob_book_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Book state sampled at arbitrary as-of times — the 'what did the book
    look like at 10:30:00.000?' query every tick store serves. Composes the
    keyed mutations fold's per-event snapshots with operators/asof.asof_join:
    per book, a 20-point evenly spaced seq grid (derived from that book's own
    min/max seq, so the grid is data-defined and engine-independent) pulls
    the latest snapshot at-or-before each sample point. The grid build is
    equi-join-free (explode over the per-book bounds row); the as-of fill is
    one shuffle+sort keyed by book. Output: 7 books x 20 samples, constant in
    SF."""
    stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
    snaps = top_n_levels_from_price_mutations(stream, by=["book"], n=2).select(
        "book", "seq", *snapshot_columns(2)
    )
    grid = (
        stream.groupBy("book")
        .agg(F.min("seq").alias("_lo"), F.max("seq").alias("_hi"))
        .select("book", "_lo", "_hi", F.explode(F.sequence(F.lit(0), F.lit(19))).alias("_k"))
        .select(
            "book",
            (F.col("_lo") + F.floor(F.col("_k") * (F.col("_hi") - F.col("_lo")) / F.lit(19.0)))
            .cast("long")
            .alias("seq"),
        )
        .distinct()
    )
    from polars_order_book_spark.operators.asof import asof_join

    return asof_join(grid, snaps, on="seq", by=["book"])


def _ob_book_asof_sql() -> str:
    inner = bs.oracle_book_sql(bs.KEYED_MUTATIONS_STREAM_SQL, 2, "mutations", key="book")
    snap_cols = ", ".join(
        f"s.{c}" for i in (1, 2)
        for c in (f"bid_price_{i}", f"bid_qty_{i}", f"ask_price_{i}", f"ask_qty_{i}")
    )
    return f"""
WITH snaps AS ({inner}),
bounds AS (
    SELECT book, min(seq) AS lo, max(seq) AS hi
    FROM ({bs.KEYED_MUTATIONS_STREAM_SQL}) GROUP BY book
),
grid AS (
    SELECT DISTINCT book, CAST(lo + floor(k * (hi - lo) / 19.0) AS BIGINT) AS seq
    FROM bounds, range(0, 20) t(k)
)
SELECT g.book, g.seq, {snap_cols}
FROM grid g ASOF LEFT JOIN snaps s ON g.book = s.book AND g.seq >= s.seq
"""


def _ann_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank over the brute-force candidates: greedy
    lam*rel − (1−lam)*max-sim-to-selected per query inside one
    applyInPandas over the 20-candidate lists (operators/retrieval.py
    mmr_rerank). All selection inputs are integer micros, so the unrolled
    k-step CTE chain in the oracle replays the argmax sequence exactly."""
    from polars_order_book_spark.operators.retrieval import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return mmr_rerank(emb, queries, k=5, m_candidates=20, lam=0.7)


def _ann_mmr_sql(k: int = 5, m: int = 20, lam: float = 0.7) -> str:
    # `e0` suffix forces DOUBLE literals (a bare 0.7 parses as DECIMAL in
    # DuckDB and would change the score arithmetic); beta is the binary
    # complement 1-lam rendered at full precision, matching the operator.
    lam_s = f"{lam!r}e0"
    beta_s = f"{(1.0 - lam)!r}e0"
    head = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
v AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
sim AS (SELECT q.query_id, v.neighbor_id,
        list_dot_product(qv, vv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cosine
        FROM v CROSS JOIN q WHERE v.neighbor_id <> q.query_id),
cand AS (SELECT query_id, neighbor_id, CAST(FLOOR(cosine*1000000+0.5) AS BIGINT) AS rel_m
         FROM (SELECT query_id, neighbor_id, cosine,
                      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
               FROM sim) WHERE rn <= {m}),
cv AS (SELECT c.query_id, c.neighbor_id, c.rel_m, v.vv FROM cand c JOIN v USING (neighbor_id)),
pair AS (SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
         CAST(FLOOR(list_dot_product(a.vv, b.vv) / (sqrt(list_dot_product(a.vv, a.vv)) * sqrt(list_dot_product(b.vv, b.vv))) * 1000000 + 0.5) AS BIGINT) AS sim_m
         FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
sel1 AS (SELECT query_id, neighbor_id, 1 AS mmr_rank, score FROM (
           SELECT query_id, neighbor_id, {lam_s}*rel_m AS score,
                  row_number() OVER (PARTITION BY query_id ORDER BY {lam_s}*rel_m DESC, neighbor_id) AS rn
           FROM cand) WHERE rn = 1)"""
    ctes = [head]
    for t in range(2, k + 1):
        union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, t))
        ctes.append(f"selu{t - 1} AS ({union})")
        ctes.append(
            f"""sc{t} AS (SELECT c.query_id, c.neighbor_id, c.rel_m, max(p.sim_m) AS ms
          FROM cand c
          JOIN pair p ON p.query_id = c.query_id AND p.i = c.neighbor_id
          JOIN selu{t - 1} s ON s.query_id = p.query_id AND s.neighbor_id = p.j
          LEFT JOIN selu{t - 1} e ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
          WHERE e.neighbor_id IS NULL
          GROUP BY c.query_id, c.neighbor_id, c.rel_m)"""
        )
        ctes.append(
            f"""sel{t} AS (SELECT query_id, neighbor_id, {t} AS mmr_rank, score FROM (
           SELECT query_id, neighbor_id, {lam_s}*rel_m - {beta_s}*ms AS score,
                  row_number() OVER (PARTITION BY query_id ORDER BY {lam_s}*rel_m - {beta_s}*ms DESC, neighbor_id) AS rn
           FROM sc{t}) WHERE rn = 1)"""
        )
    final_union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, k + 1))
    return (
        ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, CAST(mmr_rank AS INT) AS mmr_rank,
       CAST(score AS DOUBLE) AS mmr_score
FROM ({final_union})
"""
    )


def _ob_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-book VWAP per 500-seq bucket over the keyed mutations stream —
    exact BIGINT price*qty / qty sums, one map-side-partial groupBy."""
    from polars_order_book_spark.operators.market import vwap_by_bucket

    stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
    return vwap_by_bucket(stream, 500, by=["book"])


OB_VWAP_SQL = f"""
SELECT book, seq // 500 AS bucket,
       CAST(CAST(sum(price * qty) AS BIGINT) AS DOUBLE)
       / CAST(CAST(sum(qty) AS BIGINT) AS DOUBLE) AS vwap,
       CAST(sum(qty) AS BIGINT) AS volume
FROM ({bs.KEYED_MUTATIONS_STREAM_SQL})
WHERE qty > 0
GROUP BY book, seq // 500
"""


def _ob_l1_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted spread / 2x mid / microprice per event from keyed level-1
    snapshots — pure projection composed on the book operator (no extra
    shuffle); 2x mid keeps every downstream aggregate integral."""
    from polars_order_book_spark.operators.market import l1_metrics

    stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
    snaps = top_n_levels_from_price_mutations(stream, by=["book"], n=1)
    return l1_metrics(snaps, by=["book"])


def _ob_l1_metrics_sql() -> str:
    inner = bs.oracle_book_sql(bs.KEYED_MUTATIONS_STREAM_SQL, 1, "mutations", key="book")
    return f"""
SELECT book, seq,
       CASE WHEN bid_price_1 IS NOT NULL AND ask_price_1 IS NOT NULL
            THEN ask_price_1 - bid_price_1 END AS spread,
       CASE WHEN bid_price_1 IS NOT NULL AND ask_price_1 IS NOT NULL
            THEN ask_price_1 + bid_price_1 END AS mid2,
       CASE WHEN bid_price_1 IS NOT NULL AND ask_price_1 IS NOT NULL
            THEN CAST(bid_price_1 * ask_qty_1 + ask_price_1 * bid_qty_1 AS DOUBLE)
                 / CAST(bid_qty_1 + ask_qty_1 AS DOUBLE) END AS microprice
FROM ({inner})
"""


def _ob_realized_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized variance of the midprice per book per 500-seq bucket —
    squared integer tick moves (2x-mid differences), exact sums, /4 as the
    single final float step; no-quote events break the move chain."""
    from polars_order_book_spark.operators.market import l1_metrics, realized_variance

    stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
    snaps = top_n_levels_from_price_mutations(stream, by=["book"], n=1)
    return realized_variance(l1_metrics(snaps, by=["book"]), 500, by=["book"])


def _ob_realized_variance_sql() -> str:
    inner = bs.oracle_book_sql(bs.KEYED_MUTATIONS_STREAM_SQL, 1, "mutations", key="book")
    return f"""
WITH l1 AS (
    SELECT book, seq,
           CASE WHEN bid_price_1 IS NOT NULL AND ask_price_1 IS NOT NULL
                THEN ask_price_1 + bid_price_1 END AS mid2
    FROM ({inner})
), moves AS (
    SELECT book, seq // 500 AS bucket,
           mid2 - lag(mid2) OVER (PARTITION BY book ORDER BY seq) AS dm
    FROM l1
)
SELECT book, bucket,
       CAST(CAST(sum(dm * dm) AS BIGINT) AS DOUBLE) / 4.0 AS rv_ticks2,
       count(*) AS n_moves
FROM moves WHERE dm IS NOT NULL
GROUP BY book, bucket
"""


def _ob_ofi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-flow imbalance per book per 500-seq bucket, straight off the
    keyed L1 snapshot columns — indicator-weighted qty deltas
    (Cont/Kukanov/Stoikov), every bucket sum an exact BIGINT with zero
    float steps; no-quote boundaries break the chain like realized
    variance."""
    from polars_order_book_spark.operators.market import order_flow_imbalance

    stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
    snaps = top_n_levels_from_price_mutations(stream, by=["book"], n=1)
    return order_flow_imbalance(snaps, 500, by=["book"])


def _ob_ofi_sql() -> str:
    inner = bs.oracle_book_sql(bs.KEYED_MUTATIONS_STREAM_SQL, 1, "mutations", key="book")
    return f"""
WITH l1 AS (
    SELECT book, seq, bid_price_1 AS bp, bid_qty_1 AS bq,
           ask_price_1 AS ap, ask_qty_1 AS aq
    FROM ({inner})
), lagged AS (
    SELECT book, seq // 500 AS bucket, bp, bq, ap, aq,
           lag(bp) OVER w AS pbp, lag(bq) OVER w AS pbq,
           lag(ap) OVER w AS pap, lag(aq) OVER w AS paq
    FROM l1
    WINDOW w AS (PARTITION BY book ORDER BY seq)
), flows AS (
    SELECT book, bucket,
           CASE WHEN bp IS NOT NULL AND ap IS NOT NULL
                 AND pbp IS NOT NULL AND pap IS NOT NULL
                THEN (CASE WHEN bp >= pbp THEN bq ELSE 0 END)
                   - (CASE WHEN bp <= pbp THEN pbq ELSE 0 END)
                   - (CASE WHEN ap <= pap THEN aq ELSE 0 END)
                   + (CASE WHEN ap >= pap THEN paq ELSE 0 END)
           END AS e
    FROM lagged
)
SELECT book, bucket, CAST(sum(e) AS BIGINT) AS ofi, count(*) AS n_flows
FROM flows WHERE e IS NOT NULL
GROUP BY book, bucket
"""


def _ob_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars of the 2x midprice per book per 500-seq bucket — argmin/
    argmax-by-seq open/close in ONE agg pass (min_by/max_by, no rank+filter
    second shuffle); all columns exact integral ticks."""
    from polars_order_book_spark.operators.market import l1_metrics, ohlc_bars

    stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
    snaps = top_n_levels_from_price_mutations(stream, by=["book"], n=1)
    return ohlc_bars(l1_metrics(snaps, by=["book"]), 500, by=["book"])


def _ob_ohlc_sql() -> str:
    inner = bs.oracle_book_sql(bs.KEYED_MUTATIONS_STREAM_SQL, 1, "mutations", key="book")
    return f"""
WITH l1 AS (
    SELECT book, seq,
           CASE WHEN bid_price_1 IS NOT NULL AND ask_price_1 IS NOT NULL
                THEN ask_price_1 + bid_price_1 END AS mid2
    FROM ({inner})
)
SELECT book, seq // 500 AS bucket,
       min_by(mid2, seq) AS open2, max(mid2) AS high2,
       min(mid2) AS low2, max_by(mid2, seq) AS close2,
       count(*) AS n_quotes
FROM l1 WHERE mid2 IS NOT NULL
GROUP BY book, seq // 500
"""


def _ob_depth_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visible depth + book imbalance over the top-3 levels per event per
    book — row-wise projection composed directly on the keyed book output
    (no extra shuffle); absent levels contribute zero, empty sides stay
    null, imbalance is the single final double division."""
    from polars_order_book_spark.operators.market import depth_profile

    stream = bs.keyed_mutations_stream(load_table(spark, sf_dir, "events"))
    snaps = top_n_levels_from_price_mutations(stream, by=["book"], n=3)
    return depth_profile(snaps, 3, by=["book"])


def _ob_depth_profile_sql() -> str:
    inner = bs.oracle_book_sql(bs.KEYED_MUTATIONS_STREAM_SQL, 3, "mutations", key="book")
    return f"""
WITH s AS ({inner}),
d AS (
    SELECT book, seq,
           CASE WHEN bid_qty_1 IS NOT NULL
                THEN bid_qty_1 + COALESCE(bid_qty_2, 0) + COALESCE(bid_qty_3, 0)
           END AS bid_depth,
           CASE WHEN ask_qty_1 IS NOT NULL
                THEN ask_qty_1 + COALESCE(ask_qty_2, 0) + COALESCE(ask_qty_3, 0)
           END AS ask_depth
    FROM s
)
SELECT book, seq, bid_depth, ask_depth,
       CASE WHEN bid_depth IS NOT NULL AND ask_depth IS NOT NULL
            THEN CAST(bid_depth AS DOUBLE) / CAST(bid_depth + ask_depth AS DOUBLE)
       END AS imbalance
FROM d
"""


def _supplier_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier pairs with Jaccard >= 0.12 over their distinct part sets —
    exact set-similarity self-join through the inverted part index
    (triangle-salted; pair multiplicity = intersection size, one groupBy
    finishes it); jaccard is one division of exact BIGINTs."""
    from polars_order_book_spark.operators.similarity import jaccard_similarity_pairs

    li = load_table(spark, sf_dir, "lineitem")
    return jaccard_similarity_pairs(
        li, entity_col="l_suppkey", item_col="l_partkey", threshold=0.12
    )


SUPPLIER_SIMILARITY_SQL = """
WITH ps AS (SELECT DISTINCT l_suppkey AS e, l_partkey AS i FROM lineitem),
sizes AS (SELECT e, count(*) AS n FROM ps GROUP BY e),
inter AS (
    SELECT a.e AS entity_a, b.e AS entity_b, count(*) AS n_shared
    FROM ps a JOIN ps b ON a.i = b.i AND a.e < b.e
    GROUP BY a.e, b.e
)
SELECT entity_a, entity_b, n_shared,
       CAST(n_shared AS DOUBLE) / CAST(x.n + y.n - n_shared AS DOUBLE) AS jaccard,
       CAST(n_shared AS DOUBLE) / CAST(x.n AS DOUBLE) AS containment_a,
       CAST(n_shared AS DOUBLE) / CAST(y.n AS DOUBLE) AS containment_b
FROM inter JOIN sizes x ON entity_a = x.e JOIN sizes y ON entity_b = y.e
WHERE CAST(n_shared AS DOUBLE) / CAST(x.n + y.n - n_shared AS DOUBLE) >= 0.12
"""


def _events_user_profile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user lifetime profile accumulator (count, exact
    scaled-integer value sum, last-seen micros) — arbitrary stateful
    processing with one fixed-width state row per key. impl='auto' uses
    transformWithStateInPandas where the environment has protobuf and the
    dependency-free applyInPandasWithState otherwise (same output contract,
    parity-pinned). Update-mode memory sink re-emits a user's row each batch
    it appears in; the monotone n_events picks the final profile per user,
    making the harness multi-batch-robust."""
    from polars_order_book_spark.sources.tables import load_table_stream
    from polars_order_book_spark.streaming import user_profile_stream

    prof = user_profile_stream(load_table_stream(spark, sf_dir, "events"))
    final = F.max(F.struct("n_events", "value_sum_micros", "last_us")).alias("p")
    return _run_stream(
        prof, "update", f"{sf_dir}/events.parquet",
        lambda t: t.groupBy("user_id")
        .agg(final)
        .select("user_id", "p.n_events", "p.value_sum_micros", "p.last_us"),
    )


EVENTS_USER_PROFILE_STREAM_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS value_sum_micros,
       max(epoch_us(ts)) AS last_us
FROM events
GROUP BY user_id
"""


def _part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts in the co-order graph (parts are adjacent
    when some order contains both) — exactly-once enumeration via the
    degree-ordered orientation (wedge work bounded O(m^1.5) regardless of
    hub skew); exact BIGINT counts."""
    from polars_order_book_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    edges = x.join(y, "l_orderkey").where(
        F.col("x.l_partkey") != F.col("y.l_partkey")
    ).select(
        F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst")
    )
    return triangle_count(edges)


PART_TRIANGLES_SQL = """
WITH pairs AS (
  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS u,
                  greatest(x.l_partkey, y.l_partkey) AS v
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
), both_dirs AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
deg AS (SELECT u AS n, count(*) AS d FROM both_dirs GROUP BY u),
oriented AS (
  SELECT b.u, b.v FROM both_dirs b
  JOIN deg du ON b.u = du.n JOIN deg dv ON b.v = dv.n
  WHERE du.d < dv.d OR (du.d = dv.d AND b.u < b.v)
),
tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM oriented e1 JOIN oriented e2 ON e1.v = e2.u
  JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v
),
nodes AS (
  SELECT a AS node FROM tris
  UNION ALL SELECT b AS node FROM tris
  UNION ALL SELECT c AS node FROM tris
)
SELECT node, count(*) AS n_triangles FROM nodes GROUP BY node
"""


def _supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the customer->supplier purchase graph
    (distinct (o_custkey, l_suppkey) edges; supplier node ids offset so the
    two key spaces can't collide): supplier centrality weighting, the
    source-authority primitive of curation pipelines. Integer-scaled exact
    arithmetic (operators/graph.py) so the oracle's unrolled 3 rounds hash
    bit-identically. Output: top 25 suppliers by rank."""
    from polars_order_book_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(10_000_000)).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, iters=3)
    return (
        pr.where(F.col("node") >= 10_000_000)
        .select(
            (F.col("node") - 10_000_000).alias("s_suppkey"),
            F.col("rank_scaled"),
        )
        .orderBy(F.col("rank_scaled").desc(), "s_suppkey")
        .limit(25)
    )


def _supplier_pagerank_sql() -> str:
    scale = 1_000_000_000_000
    head = f"""
WITH e0 AS (
    SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
    SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), nodes AS (
    SELECT DISTINCT src AS node FROM edges
), deg AS (
    SELECT src AS dnode, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
), nn AS (
    SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
), r0 AS (
    SELECT node, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS rank_scaled FROM nodes
)"""
    iters = ""
    for i in range(3):
        prev, cur = f"r{i}", f"r{i + 1}"
        iters += f""", c{i + 1} AS (
    SELECT e.dst AS node, CAST(sum(r.rank_scaled // d.outdeg) AS BIGINT) AS s
    FROM edges e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.dnode
    GROUP BY e.dst
), {cur} AS (
    SELECT nodes.node,
           CAST((15 * {scale}) // (100 * (SELECT n FROM nn))
                + (85 * COALESCE(c{i + 1}.s, 0)) // 100 AS BIGINT) AS rank_scaled
    FROM nodes LEFT JOIN c{i + 1} ON nodes.node = c{i + 1}.node
)"""
    return head + iters + """
SELECT CAST(node - 10000000 AS BIGINT) AS s_suppkey, rank_scaled
FROM r3 WHERE node >= 10000000
ORDER BY rank_scaled DESC, s_suppkey
LIMIT 25
"""


def _dedup_stream_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with survivor tagging (applyInPandasWithState
    keyed by content hash), driven to completion with availableNow -> update
    memory sink. Every document is tagged with the canonical keep_id (min id
    of the hash's first micro-batch); a single-file availableNow replay is
    one batch, so the oracle is min(doc_id) per md5(text)."""
    from polars_order_book_spark.streaming.dedup_stream import (
        dedup_stream_with_survivor,
    )

    from polars_order_book_spark.sources.tables import load_table_stream

    docs = load_table_stream(spark, sf_dir, "documents")
    tagged = dedup_stream_with_survivor(docs)
    return _run_stream(
        tagged, "update", f"{sf_dir}/documents.parquet",
        lambda t: t.select("content_hash", "doc_id", "keep_id", "is_first"),
    )


DEDUP_STREAM_SQL = """
SELECT md5(text) AS content_hash, doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_first
FROM documents
"""


def _events_stream_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming key dedup with watermark-bounded state
    (dropDuplicatesWithinWatermark): first arrival per (user_id, event_type)
    survives; state rows evict once the watermark passes their arrival, so
    recurring keys don't grow state forever. Driven availableNow -> append
    memory sink. Only the key columns are emitted (which physical row
    survives within a batch is not defined), so the oracle is SELECT
    DISTINCT over the same keys."""
    from polars_order_book_spark.streaming.dedup_stream import (
        drop_duplicates_within_watermark,
    )
    from polars_order_book_spark.sources.tables import load_table_stream

    ev = load_table_stream(spark, sf_dir, "events")
    dd = drop_duplicates_within_watermark(
        ev, ["user_id", "event_type"], ts_col="ts", watermark="1 hour"
    ).select("user_id", "event_type")
    return _run_stream(dd, "append", f"{sf_dir}/events.parquet")


EVENTS_STREAM_DROPDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def _events_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format ingestion round trip: events written to CSV (header +
    proper quoting for the free-text props column) and read back through
    load_event_csv with an explicit schema (single pass, splittable scan),
    hashed against DuckDB reading the original parquet. Timestamps travel as
    unix micros so the comparison is exact, not format-dependent."""
    from polars_order_book_spark.sources.tables import load_event_csv

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )

    def build(tmp):
        path = os.path.join(tmp, "events_csv")
        ev.write.mode("overwrite").option("header", "true").csv(path)
        # multiLine: quoted newlines inside props must not tear records (the
        # default reader splits on raw newlines regardless of quoting).
        return load_event_csv(
            spark,
            path,
            schema="event_id long, ts_us long, user_id long, event_type string, value double, props string",
            multiLine="true",
        )

    return _in_scratch(build)


EVENTS_CSV_ROUNDTRIP_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
FROM events
"""


def _embeddings_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization of the embeddings table, exploded to
    (vec_id, scale, pos, q) scalar rows so every quantized component is
    value-hashed against the oracle (array columns stringify differently
    across engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id", "scale", F.posexplode("qvec").alias("pos", "q")
    ).withColumn("pos", F.col("pos").cast("long"))


EMBEDDINGS_QUANTIZE_SQL = """
WITH s AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(x))) AS scale
    FROM embeddings
)
SELECT vec_id, CAST(scale AS DOUBLE) AS scale, CAST(t.i - 1 AS BIGINT) AS pos,
       CASE WHEN scale = 0 THEN 0
            ELSE CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 127.0
                            / CAST(scale AS DOUBLE) + 0.5) AS INT)
       END AS q
FROM s, UNNEST(generate_series(1, len(embedding))) AS t(i)
"""


def _events_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion round trip: events written as JSONL and read back
    through load_event_jsonl with an explicit schema (single pass, splittable
    by line), hashed against DuckDB reading the original parquet. Timestamps
    travel as unix micros; the free-text props column exercises JSON string
    escaping."""
    from polars_order_book_spark.sources.tables import load_event_jsonl

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )

    def build(tmp):
        path = os.path.join(tmp, "events_jsonl")
        ev.write.mode("overwrite").json(path)
        return load_event_jsonl(
            spark,
            path,
            schema="event_id long, ts_us long, user_id long, event_type string, value double, props string",
        )

    return _in_scratch(build)


EVENTS_JSONL_ROUNDTRIP_SQL = EVENTS_CSV_ROUNDTRIP_SQL


def _events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key over two bucketed event dimensions — the
    data-skipping layout key (sorting by it clusters BOTH columns so parquet
    min/max stats prune on either predicate). Pure shift/mask/or codegen;
    oracle is the identical expression rendered to SQL."""
    from polars_order_book_spark.functions.layout import zorder_key

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_key(
            [F.col("user_id") % 1024, F.col("event_id") % 1024], bits=10
        ).alias("zkey"),
    )


def _events_zorder_sql() -> str:
    from polars_order_book_spark.functions.layout import zorder_key_sql

    expr = zorder_key_sql(["(user_id % 1024)", "(event_id % 1024)"], bits=10)
    return f"SELECT event_id, CAST({expr} AS BIGINT) AS zkey FROM events"


def _docs_category_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dictionary encoding of the lang column: dense ids by
    sorted value order, dictionary broadcast back — the fact table never
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.category_index(docs, "lang").select("doc_id", "lang", "lang_id")


CATEGORY_INDEX_SQL = """
SELECT d.doc_id, d.lang, CAST(dr.lang_id AS BIGINT) AS lang_id
FROM documents d
LEFT JOIN (
    SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS lang_id
    FROM (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL)
) dr USING (lang)
"""


def _text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization cleanup over documents: control-char strip,
    whitespace collapse, trim — all JVM regex codegen, byte-identical in
    DuckDB (Java-regex ∩ RE2 pattern dialect)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.clean_text(docs)


TEXT_CLEAN_SQL = r"""
SELECT doc_id,
       trim(regexp_replace(
           regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
           '\s+', ' ', 'g')) AS clean_text,
       CAST(len(trim(regexp_replace(
           regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
           '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_clean
FROM documents
"""


def _text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated k-token-span statistics (exact-substring
    dedup measurement, Lee et al. 2022). k=10 per the paper's 50-token
    analogue scaled to this corpus's ~30-token docs."""
    docs = load_table(spark, sf_dir, "documents")
    return text.dup_span_stats(docs, k=10)


def _gram10(base: str) -> str:
    return "concat_ws(' ', " + ", ".join(f"{base}[i+{j + 1}]" for j in range(10)) + ")"


TEXT_DUP_SPANS_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
grams AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5({_gram10('t')}), 1, 15)) AS BIGINT) AS h
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 10 AND i <= len(t) - 10
),
shared AS (SELECT h, count(DISTINCT doc_id) AS docs FROM grams GROUP BY h)
SELECT doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_fraction
FROM grams JOIN shared USING (h)
GROUP BY doc_id
"""


def _documents_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source discrete-percentile length gate: drop each source's
    shortest quartile; cutoffs learned per group, broadcast back."""
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_filter(docs, q=0.25)


DOCUMENTS_QUALITY_FILTER_SQL = """
WITH base AS (
    SELECT doc_id, source AS grp,
           CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY grp ORDER BY n_tokens, doc_id) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM base
),
cuts AS (
    SELECT grp, max(CASE WHEN rn = CAST(ceil(0.25 * n) AS INT) THEN n_tokens END) AS cutoff
    FROM ranked GROUP BY grp
)
SELECT doc_id, grp AS source, n_tokens, CAST(cutoff AS BIGINT) AS cutoff
FROM base JOIN cuts USING (grp)
WHERE n_tokens >= cutoff
"""


def _documents_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline composing three registered operators:
    per-source quality gate (drop each source's shortest quartile) -> text
    cleanup (control-strip + whitespace normalization) -> exact dedup
    survivor selection (min doc id per content hash of the CLEANED text).
    One registry entry proving the operators compose — the per-stage
    invariants are each pinned by their own oracle rows; this checks the
    chain end-to-end against one composed SQL."""
    docs = load_table(spark, sf_dir, "documents")
    kept_ids = text.quality_filter(docs, q=0.25).select("doc_id")
    kept = docs.join(kept_ids, "doc_id")
    cleaned = text.clean_text(kept)
    return (
        cleaned.groupBy(F.md5(F.col("clean_text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_chars_clean").alias("n_chars_clean"),
        )
    )


DOCUMENTS_CURATION_PIPELINE_SQL = r"""
WITH base AS (
    SELECT doc_id, source AS grp,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
    FROM documents
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY grp ORDER BY n_tokens, doc_id) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM base
),
cuts AS (
    SELECT grp, max(CASE WHEN rn = CAST(ceil(0.25 * n) AS INT) THEN n_tokens END) AS cutoff
    FROM ranked GROUP BY grp
),
kept AS (
    SELECT b.doc_id FROM base b JOIN cuts USING (grp) WHERE b.n_tokens >= cutoff
),
cleaned AS (
    SELECT d.doc_id,
           trim(regexp_replace(
               regexp_replace(d.text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
               '\s+', ' ', 'g')) AS clean_text
    FROM documents d JOIN kept USING (doc_id)
)
SELECT md5(clean_text) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_copies,
       CAST(min(len(clean_text)) AS BIGINT) AS n_chars_clean
FROM cleaned
GROUP BY md5(clean_text)
"""


def _orders_merge_parts(spark: SparkSession, sf_dir: str):
    """(base, changes) for the MERGE queries: a deterministic change batch —
    conflicting updates resolved last-writer-wins by version, tombstone
    deletes, inserts with synthesized keys."""
    k = F.col("o_orderkey")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_micros("o_orderdate").alias("o_orderdate_us"),
        "o_orderpriority",
    )
    upd_hi = base.where(k % 10 == 3).select(
        "*",
        F.lit(2).alias("version"),
        F.lit(False).alias("tombstone"),
    ).withColumn("o_orderstatus", F.lit("U2")).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    upd_lo = base.where(k % 20 == 3).select(
        "*",
        F.lit(1).alias("version"),
        F.lit(False).alias("tombstone"),
    ).withColumn("o_orderstatus", F.lit("U1"))
    dels = base.where(k % 10 == 7).select(
        "*", F.lit(3).alias("version"), F.lit(True).alias("tombstone")
    )
    ins = base.where(k % 1000 == 1).select(
        (k + 100000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("I").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate_us",
        "o_orderpriority",
        F.lit(1).alias("version"),
        F.lit(False).alias("tombstone"),
    )
    changes = upd_hi.unionByName(upd_lo).unionByName(dels).unionByName(ins)
    return base, changes


def _orders_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE over orders applied with merge_upsert — broadcast change
    keys, one anti-join, no base-table shuffle. The oracle replays the same
    MERGE in SQL."""
    from polars_order_book_spark.operators.merge import merge_upsert

    base, changes = _orders_merge_parts(spark, sf_dir)
    return merge_upsert(
        base, changes, ["o_orderkey"], version_col="version", tombstone_col="tombstone"
    )


def _orders_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the same change log split into two micro-batches
    by key hash (a key's changes never straddle batches, so batch-wise LWW ==
    global LWW), folded into a versioned parquet table via foreachBatch +
    merge_upsert, marker-flipped per batch. The oracle is the single-shot
    MERGE replay — the maintained table must converge to it exactly."""
    from polars_order_book_spark.streaming.merge_stream import (
        apply_changes_stream,
        init_table,
        read_current,
    )

    base, changes = _orders_merge_parts(spark, sf_dir)

    def build(tmp):
        tbl = os.path.join(tmp, "table")
        init_table(base, tbl)
        q = apply_changes_stream(
            _two_file_stream(changes, "o_orderkey", tmp),
            tbl,
            ["o_orderkey"],
            checkpoint=os.path.join(tmp, "ckpt"),
        )
        _await(q)
        return read_current(spark, tbl)

    return _in_scratch(build)


ORDERS_MERGE_APPLY_SQL = """
WITH base AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us, o_orderpriority
    FROM orders
),
changes AS (
    SELECT o_orderkey, o_custkey, 'U2' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
           o_orderdate_us, o_orderpriority, 2 AS version, FALSE AS tombstone
    FROM base WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT o_orderkey, o_custkey, 'U1', o_totalprice,
           o_orderdate_us, o_orderpriority, 1, FALSE
    FROM base WHERE o_orderkey % 20 = 3
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate_us, o_orderpriority, 3, TRUE
    FROM base WHERE o_orderkey % 10 = 7
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, 'I', o_totalprice,
           o_orderdate_us, o_orderpriority, 1, FALSE
    FROM base WHERE o_orderkey % 1000 = 1
),
latest AS (
    SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        FROM changes
    ) WHERE rn = 1
)
SELECT b.* FROM base b
WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = b.o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate_us, o_orderpriority
FROM latest WHERE NOT tombstone
"""


def _embeddings_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid outliers over the embeddings table: component-wise
    MEDIAN centroid (rank statistic — aggregation-order independent, so
    hash-checkable, and robust to the outliers themselves), L2 distance as
    one sequential fold, top-10 farthest per label."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroid_outliers(emb, top_k=10)


EMBEDDINGS_OUTLIERS_SQL = """
WITH v AS (
    SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
),
comps AS (
    SELECT label, vec_id, CAST(t.i - 1 AS INT) AS pos, vv[t.i] AS x
    FROM v, UNNEST(generate_series(1, len(vv))) AS t(i)
),
med AS (
    SELECT label, pos, median(x) AS m FROM comps GROUP BY label, pos
),
cents AS (
    SELECT label, list(m ORDER BY pos) AS cent FROM med GROUP BY label
),
scored AS (
    SELECT v.label, v.vec_id,
           sqrt(list_dot_product(
               list_transform(list_zip(vv, cent), p -> p[1] - p[2]),
               list_transform(list_zip(vv, cent), p -> p[1] - p[2])
           )) AS dist
    FROM v JOIN cents ON v.label = cents.label
)
SELECT label, vec_id, CAST(rank AS BIGINT) AS rank, dist
FROM (
    SELECT label, vec_id, dist,
           row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rank
    FROM scored
)
WHERE rank <= 10
"""


def _documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass intake profile of the documents table: exact null counts
    per column, exact distinct counts for the bounded-cardinality columns,
    and text length stats — one map-side partial agg + a 1-row reduce."""
    from polars_order_book_spark.operators.profiling import profile_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_table(
        docs, exact_distinct=("lang", "source"), length_of=("text",)
    )


DOCUMENTS_PROFILE_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS doc_id_nulls,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_nulls,
       CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct,
       CAST(count(DISTINCT source) AS BIGINT) AS source_distinct,
       CAST(min(len(text)) AS INT) AS text_len_min,
       CAST(max(len(text)) AS INT) AS text_len_max,
       avg(len(text)) AS text_len_avg
FROM documents
"""


def _part_hconcat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hconcat by shared id (the scalable equi-join path, mirroring the
    reference's own id-join usage, ref: test_calculate_bbo.py:60): two
    disjoint projections of part re-joined horizontally; overlapping non-key
    columns take the left side's values."""
    from polars_order_book_spark.functions.frames import hconcat

    part = load_table(spark, sf_dir, "part")
    left = part.select("p_partkey", "p_name", "p_retailprice")
    right = part.select(
        "p_partkey",
        "p_brand",
        (F.col("p_retailprice") * 2).alias("p_retailprice"),  # dup name: left wins
    )
    return hconcat(left, right, on="p_partkey")


PART_HCONCAT_SQL = """
SELECT p_partkey, p_name, p_retailprice, p_brand FROM part
"""


def _docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk layout: every document assigned to its 256-token
    training sequence (bin + start offset) per source in portable hash
    order, 2 hash shards bounding per-task window work."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.pack_sequences(docs, 256, shards=2)


PACK_SEQUENCES_SQL = """
WITH base AS (
    SELECT doc_id, source,
           CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
    FROM documents
),
cum AS (
    SELECT doc_id, source, n_tokens, h % 2 AS pack_shard,
           CAST(sum(n_tokens) OVER (PARTITION BY source, h % 2 ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
    FROM base
)
SELECT doc_id, source, pack_shard, n_tokens,
       CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_index,
       CAST((cum - n_tokens) % 256 AS BIGINT) AS start_offset
FROM cum
"""


def _docs_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture re-weighting: largest deterministic subset hitting a 50/30/20
    split across three sources (binding domain keeps all rows, others
    hash-downsample). Map-side filter after a broadcast rates join — the
    fact table never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.domain_mix_sample(
        docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    ).select("doc_id", "source")


DOMAIN_MIX_SQL = """
WITH counts AS (
    SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents
    WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
),
w(source, wt) AS (
    VALUES ('src0', CAST(0.5 AS DOUBLE)),
           ('src1', CAST(0.3 AS DOUBLE)),
           ('src2', CAST(0.2 AS DOUBLE))
),
caps AS (
    SELECT c.source, c.n, w.wt, c.n / w.wt AS cap
    FROM counts c JOIN w USING (source)
),
t AS (SELECT min(cap) AS tt FROM caps),
rates AS (
    SELECT source, least(CAST(1.0 AS DOUBLE), wt * tt / n) AS r
    FROM caps, t
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates USING (source)
WHERE CAST(concat('0x', substr(md5(concat(CAST(d.doc_id AS VARCHAR), '')), 1, 15)) AS BIGINT)
      % 1000000 < CAST(floor(r * 1000000 + 1e-6) AS BIGINT)
"""


def _docs_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture draw: up to ~800 tokens per source in portable
    hash order, split over 2 hash shards (bounded per-task window work)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.budget_pack(docs, 800, by="source", shards=2)


BUDGET_PACK_SQL = """
WITH base AS (
    SELECT doc_id, source,
           CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
    FROM documents
),
cum AS (
    SELECT doc_id, source, n_tokens, h % 2 AS pack_shard,
           sum(n_tokens) OVER (
               PARTITION BY source, h % 2 ORDER BY h, doc_id
               ROWS UNBOUNDED PRECEDING
           ) AS cum_tokens
    FROM base
)
SELECT doc_id, source, CAST(pack_shard AS BIGINT) AS pack_shard,
       n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens - n_tokens < 400
"""


def _text_docfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.docfreq_score(load_table(spark, sf_dir, "documents"))


TEXT_DOCFREQ_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
total AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
per_doc AS (
    SELECT t.doc_id, count(*) AS n_tokens, sum(d.df) AS sum_df
    FROM tok t JOIN dfreq d USING (token) GROUP BY t.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(sum_df AS BIGINT) AS sum_df,
       CAST(sum_df AS DOUBLE) / (n_tokens * total.n) AS df_score
FROM per_doc CROSS JOIN total
"""


def _text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval against a fixed 3-term query (operators/text.py
    bm25_scores): rational idf, one fixed IEEE parenthesization per term,
    per-term scores quantized to micros and summed exactly — the float
    formula stays hash-checkable. tf/df touch only query-term hits (filter
    before the shuffle); df + 1-row corpus stats broadcast; dl equi-joins."""
    return text.bm25_scores(
        load_table(spark, sf_dir, "documents"), ["spark", "query", "data"]
    )


TEXT_BM25_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, sum(dl) AS t FROM dl),
qtok AS (SELECT doc_id, token FROM tok WHERE token IN ('spark', 'query', 'data')),
tf AS (SELECT doc_id, token, count(*) AS tf FROM qtok GROUP BY doc_id, token),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM qtok GROUP BY token),
scored AS (
    SELECT tf.doc_id,
           CAST(FLOOR(
             ((CAST(s.n AS DOUBLE) + 1.0) / (CAST(d.df AS DOUBLE) + 1.0))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                (CAST(dl.dl AS DOUBLE) * CAST(s.n AS DOUBLE) / CAST(s.t AS DOUBLE))))
             * 1000000.0 + 0.5
           ) AS BIGINT) AS m
    FROM tf
    JOIN dfreq d USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
)
SELECT doc_id, count(*) AS n_hits, CAST(sum(m) AS BIGINT) AS bm25_micros
FROM scored GROUP BY doc_id
"""


def _text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.redact_pii(load_table(spark, sf_dir, "documents"))


def _redact_sql() -> str:
    # counts mirror the Spark chain: each on the text AFTER prior redactions
    t = "text"
    counts = []
    for name, pat in text.PII_PATTERNS:
        counts.append(f"CAST(len(regexp_extract_all({t}, '{pat}')) AS BIGINT) AS n_{name}")
        t = f"regexp_replace({t}, '{pat}', '<{name.upper()}>', 'g')"
    return f"SELECT doc_id, {t} AS redacted, {', '.join(counts)} FROM documents"


def _events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach each click/view's most recent purchase (per user,
    at-or-before its timestamp). Oracle = DuckDB's native ASOF JOIN."""
    from polars_order_book_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "ts", "user_id", "event_type"
    )
    right = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))
    )
    out = asof_join(left, right, on="ts", by=["user_id"], right_on_as="purchase_ts")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "last_purchase_value",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


EVENTS_ASOF_SQL = """
WITH l AS (
    SELECT event_id, ts, user_id, event_type FROM events
    WHERE event_type IN ('click', 'view')
),
r AS (
    SELECT user_id, ts, max(value) AS last_purchase_value
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.event_type,
       r.last_purchase_value, epoch_us(r.ts) AS purchase_ts_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click/view's NEXT purchase (per user,
    at-or-after its timestamp) — time-to-conversion labeling. DuckDB's
    native ASOF supports only the backward direction, so the oracle derives
    the forward match explicitly (min qualifying ts + equi-join back), which
    also independently re-derives the operator's semantics."""
    from polars_order_book_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "ts", "user_id", "event_type"
    )
    right = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("next_purchase_value"))
    )
    out = asof_join(
        left, right, on="ts", by=["user_id"],
        direction="forward", right_on_as="purchase_ts",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "next_purchase_value",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


EVENTS_ASOF_FORWARD_SQL = """
WITH l AS (
    SELECT event_id, ts, user_id, event_type FROM events
    WHERE event_type IN ('click', 'view')
),
r AS (
    SELECT user_id, ts, max(value) AS next_purchase_value
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
m AS (
    SELECT l.event_id, min(r.ts) AS nts
    FROM l JOIN r ON r.user_id = l.user_id AND r.ts >= l.ts
    GROUP BY l.event_id
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.event_type,
       r.next_purchase_value, epoch_us(m.nts) AS purchase_ts_us
FROM l
LEFT JOIN m USING (event_id)
LEFT JOIN r ON r.user_id = l.user_id AND r.ts = m.nts
"""


def _part_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — wide metric columns to long (metric, value) rows,
    the inverse of the pivot surface (events_hourly_pivot) and Polars'
    ``melt``. Spark plans one Expand (same operator grouping sets use):
    map-only row expansion, no shuffle."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="value",
    )


PART_UNPIVOT_SQL = """
SELECT p_partkey, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
"""


def _ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk_bruteforce(emb, queries, k=10)


ANN_SQL = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 5
),
v AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
sim AS (
    SELECT q.query_id, v.neighbor_id,
           list_dot_product(qv, vv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cosine
    FROM v CROSS JOIN q
    WHERE v.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM sim
)
WHERE rank <= 10
"""


def _ann_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary-quantized retrieval (operators/similarity.py
    cosine_topk_hamming_rerank): stage 1 shortlists by Hamming distance over
    packed sign signatures (16 B per vector vs 256 B of floats — the FAISS
    binary-index pattern); stage 2 reranks the shortlist with the exact
    left-fold cosine shared with ann_cosine_topk. Both stages deterministic:
    Hamming ties break on neighbor id (integer-exact), cosine is the
    bit-identical bruteforce expression. At 100 TB stage 1 is an integer
    xor/popcount scan over a signature relation small enough for hot
    storage; float work is Q x shortlist, not Q x corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk_hamming_rerank(emb, queries, k=10, shortlist=50)


def _hamming_word_sql(w: int, alias: str) -> str:
    """DuckDB twin of similarity.binary_signature's word expression: sum of
    distinct powers of two (never carries == bitwise OR), 1-indexed arrays."""
    terms = [
        f"(CASE WHEN CAST(embedding[{j + 1}] AS DOUBLE) >= 0"
        f" THEN CAST({1 << (j - w * 32)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(w * 32, (w + 1) * 32)
    ]
    return "(" + " + ".join(terms) + f") AS {alias}"


ANN_HAMMING_RERANK_SQL = f"""
WITH sig AS (
  SELECT vec_id, {_hamming_word_sql(0, 'sig_0')}, {_hamming_word_sql(1, 'sig_1')}
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, sig_0 AS q0, sig_1 AS q1 FROM sig WHERE vec_id < 5),
cand AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         CAST(bit_count(xor(v.sig_0, q.q0)) + bit_count(xor(v.sig_1, q.q1)) AS INT) AS hamming,
         row_number() OVER (PARTITION BY q.query_id
             ORDER BY bit_count(xor(v.sig_0, q.q0)) + bit_count(xor(v.sig_1, q.q1)) ASC,
                      v.vec_id) AS rn
  FROM sig v CROSS JOIN q
  WHERE v.vec_id <> q.query_id
),
short AS (SELECT query_id, neighbor_id, hamming FROM cand WHERE rn <= 50),
sim AS (
  SELECT s.query_id, s.neighbor_id, s.hamming,
         list_dot_product(qe.qv, ve.vv) /
         (sqrt(list_dot_product(qe.qv, qe.qv)) * sqrt(list_dot_product(ve.vv, ve.vv))) AS cosine
  FROM short s
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings) ve
    ON ve.vec_id = s.neighbor_id
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5) qe
    ON qe.vec_id = s.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine, hamming
FROM (
  SELECT query_id, neighbor_id, cosine, hamming,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sim
)
WHERE rank <= 10
"""


def _bucket_sql(n_planes: int) -> str:
    """DuckDB CTEs re-deriving the md5-based hyperplane buckets used by
    similarity.signed_projection_buckets (planes are md5-derived constants,
    so SQL recomputes the identical doubles)."""
    return f"""
planes AS (
    SELECT p,
           list_transform(range(0, 64), j ->
               (CAST(concat('0x', substr(md5(concat(CAST(p AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
                % 1000) / 1000.0 - 0.5) AS pv
    FROM range(0, {n_planes}) t(p)
),
allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
buckets AS (
    SELECT vec_id,
           string_agg(CASE WHEN list_dot_product(vv, pv) >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM allv CROSS JOIN planes GROUP BY vec_id
)"""


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk_lsh(emb, queries, k=10, n_planes=6)


ANN_LSH_SQL = f"""
WITH {_bucket_sql(6)},
v AS (SELECT b.vec_id AS neighbor_id, a.vv, b.bucket
      FROM buckets b JOIN allv a ON a.vec_id = b.vec_id),
q AS (SELECT b.vec_id AS query_id, a.vv AS qv, b.bucket
      FROM buckets b JOIN allv a ON a.vec_id = b.vec_id
      WHERE b.vec_id < 5),
sim AS (
    SELECT q.query_id, v.neighbor_id,
           list_dot_product(qv, vv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cosine
    FROM v JOIN q ON v.bucket = q.bucket
    WHERE v.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM sim
)
WHERE rank <= 10
"""


def _ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH index against the exact brute-force neighbors,
    per query — the accuracy half of the ANN speed/accuracy trade, as a
    first-class query (tune n_planes until this clears the bar, then ship
    the cheap index). Exact counts, one co-partitioned join."""
    return similarity.topk_recall(
        _ann_lsh(spark, sf_dir), _ann_bruteforce(spark, sf_dir)
    )


ANN_RECALL_LSH_SQL = f"""
WITH approx AS ({ANN_LSH_SQL}),
exact AS ({ANN_SQL}),
hits AS (
    SELECT e.query_id, count(*) AS n_hits
    FROM exact e JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
),
totals AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT t.query_id, COALESCE(h.n_hits, 0) AS n_hits, t.n_exact,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE) AS recall
FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
"""


def _ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF-PQ composite against exact brute-force cosine —
    the eval loop for the compressed index: tune m/ksub/n_probe until this
    clears the bar, then ship the 128x-smaller scan."""
    return similarity.topk_recall(
        _embeddings_pq_ivf_topk(spark, sf_dir), _ann_bruteforce(spark, sf_dir)
    )


def _docs_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training iteration as a relational query: char-level
    adjacent-pair counts (end-of-word sentinel) weighted by exact word
    frequencies (operators/bpe.py). The distributed half of tokenizer
    training — the iterative merge learning runs driver-side over the
    bounded word table (learn_bpe_merges, capped like cosine_topk_blas),
    and apply_bpe tokenizes distributed with the learned ranks."""
    from polars_order_book_spark.operators.bpe import bpe_pair_counts

    return bpe_pair_counts(load_table(spark, sf_dir, "documents"))


DOCS_BPE_PAIR_COUNTS_SQL = r"""
WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents),
w AS (SELECT word, count(*) AS freq FROM tk WHERE word <> '' GROUP BY word)
SELECT substr(word, CAST(i AS INT), 1) AS sym_left,
       CASE WHEN i = length(word) THEN '</w>' ELSE substr(word, CAST(i AS INT) + 1, 1) END AS sym_right,
       CAST(sum(freq) AS BIGINT) AS pair_freq
FROM w, UNNEST(range(1, length(word) + 1)) AS t(i)
GROUP BY 1, 2
"""


def _docs_bpe_train_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (operators/bpe.py learn_bpe_merges_distributed):
    the iterative merge loop with the segmentation state kept as a DataFrame —
    per merge, one pair-count shuffle (vocab-bounded cardinality) + a 1-row
    argmax collect + a map-only string replace, which IS the greedy
    non-overlapping BPE merge under the bracketed-symbol encoding. This is
    the 100 TB path the capped driver-side trainer fails fast toward; the
    two are byte-identical (pinned by test). Returns the 4-merge table
    (rank, sym_left, sym_right); the oracle unrolls the same four
    iterations as CTEs — replace() shares the exact left-to-right
    non-overlap semantics across Spark, DuckDB, and Python."""
    from polars_order_book_spark.operators.bpe import (
        learn_bpe_merges_distributed,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges_distributed(word_frequencies(docs), 4)
    return spark.createDataFrame(
        [(i + 1, l, r) for i, (l, r) in enumerate(merges)],
        "rank long, sym_left string, sym_right string",
    )


def _bpe_train_iter_cte(k: int) -> str:
    prev = f"seg{k - 1}"
    return f"""
pc{k} AS (
  SELECT p.l AS l, p.r AS r, sum(freq) AS pair_freq
  FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
           i -> struct_pack(l := syms[CAST(i AS INT)], r := syms[CAST(i AS INT) + 1]))) AS p
    FROM (SELECT string_split(substr(s, 2, length(s) - 2), chr(30) || chr(31)) AS syms, freq
          FROM {prev})
  ) GROUP BY 1, 2
),
best{k} AS (SELECT l, r FROM pc{k} ORDER BY pair_freq DESC, l, r LIMIT 1),
seg{k} AS (
  SELECT replace(s, chr(31) || b.l || chr(30) || chr(31) || b.r || chr(30),
                 chr(31) || b.l || b.r || chr(30)) AS s, freq
  FROM {prev}, best{k} b
)"""


DOCS_BPE_TRAIN_DISTRIBUTED_SQL = (
    r"""
WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents),
w AS (SELECT word, count(*) AS freq FROM tk WHERE word <> '' GROUP BY word),
seg0 AS (
  SELECT chr(31) || array_to_string(list_transform(range(1, length(word) + 1),
           i -> substr(word, CAST(i AS INT), 1)) || ['</w>'], chr(30) || chr(31)) || chr(30) AS s,
         freq
  FROM w
),"""
    + ",".join(_bpe_train_iter_cte(k) for k in (1, 2, 3, 4))
    + """
SELECT CAST(1 AS BIGINT) AS rank, l AS sym_left, r AS sym_right FROM best1
UNION ALL SELECT 2, l, r FROM best2
UNION ALL SELECT 3, l, r FROM best3
UNION ALL SELECT 4, l, r FROM best4
"""
)


def _docs_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-tokenizer vocabulary (operators/unigram.py unigram_vocab):
    every character plus the top-50 multi-char substrings (len <= 4) by
    corpus-weighted occurrence count, with the integer bit-length cost
    surrogate for -log p (bits(max_count) - bits(count) + 1 — floor(log2)+1
    both engines compute without libm). One substring explode + counted
    groupBy; the 1-row max-count aggregate broadcasts (the text_tfidf
    global-normalizer pattern, whitelisted)."""
    from polars_order_book_spark.operators.unigram import unigram_vocab

    docs = load_table(spark, sf_dir, "documents")
    return unigram_vocab(docs)


DOCS_UNIGRAM_VOCAB_SQL = """
WITH\nwuv AS (\n  SELECT word, count(*) AS freq FROM (\n    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word FROM documents\n  ) WHERE word <> '' GROUP BY word\n),\nuv_subs AS (\n  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,\n         CAST(sum(freq) AS BIGINT) AS n\n  FROM wuv, range(1, 4096) r(i), range(1, 5) sl(l)\n  WHERE CAST(i AS INT) + CAST(l AS INT) - 1 <= length(word)\n  GROUP BY 1\n),\nuv_multi AS (\n  SELECT piece, n FROM uv_subs WHERE length(piece) > 1\n  ORDER BY n DESC, piece LIMIT 50\n),\nuv_vocab AS (\n  SELECT piece, n,\n         CAST((SELECT length(bin(max(n))) FROM uv_subs)\n              - length(bin(n)) + 1 AS BIGINT) AS cost\n  FROM (SELECT piece, n FROM uv_subs WHERE length(piece) = 1\n        UNION ALL SELECT piece, n FROM uv_multi)\n)
SELECT piece, n, cost FROM uv_vocab
"""


def _docs_unigram_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-shaped tokenization under the corpus-derived unigram
    vocabulary (operators/unigram.py): EXACT min-(cost, n_pieces) Viterbi
    segmentation per word — the lexicographic objective encodes as ONE
    BIGINT (cost * 2^20 + pieces), so the per-doc totals are unique and
    hash the oracle bit-for-bit however path ties break. The oracle
    re-derives the full DP per distinct word as a list_reduce fold over a
    piece->cost MAP — the same recurrence, engine-side. Model ships in the
    mapInPandas closure (vocab-sized, the BPE-ranks convention); per-batch
    distinct-word caching keeps Viterbi off the token hot path."""
    from polars_order_book_spark.operators.unigram import (
        unigram_tokenize,
        unigram_vocab,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = unigram_vocab(docs)
    return unigram_tokenize(docs, vocab).select(
        "doc_id", "n_pieces", "total_cost"
    )


DOCS_UNIGRAM_TOKENS_SQL = """
WITH\nwuv AS (\n  SELECT word, count(*) AS freq FROM (\n    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word FROM documents\n  ) WHERE word <> '' GROUP BY word\n),\nuv_subs AS (\n  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,\n         CAST(sum(freq) AS BIGINT) AS n\n  FROM wuv, range(1, 4096) r(i), range(1, 5) sl(l)\n  WHERE CAST(i AS INT) + CAST(l AS INT) - 1 <= length(word)\n  GROUP BY 1\n),\nuv_multi AS (\n  SELECT piece, n FROM uv_subs WHERE length(piece) > 1\n  ORDER BY n DESC, piece LIMIT 50\n),\nuv_vocab AS (\n  SELECT piece, n,\n         CAST((SELECT length(bin(max(n))) FROM uv_subs)\n              - length(bin(n)) + 1 AS BIGINT) AS cost\n  FROM (SELECT piece, n FROM uv_subs WHERE length(piece) = 1\n        UNION ALL SELECT piece, n FROM uv_multi)\n),
uv_map AS (SELECT map(list(piece), list(cost)) AS m FROM uv_vocab),
uv_dp AS (
  SELECT word, freq,
    list_reduce(
      list_prepend(CAST([0] AS BIGINT[]),
        list_transform(range(1, length(word) + 1), i -> [CAST(i AS BIGINT)])),
      (acc, x) -> list_append(acc,
        list_min(list_transform(range(1, least(4, x[1]) + 1), j ->
          CASE WHEN map_extract(uv_map.m, substr(word, CAST(x[1] - j + 1 AS INT), CAST(j AS INT)))[1] IS NULL
               THEN NULL
               ELSE acc[CAST(x[1] - j + 1 AS INT)]
                    + 1048576 * CAST(map_extract(uv_map.m, substr(word, CAST(x[1] - j + 1 AS INT), CAST(j AS INT)))[1] AS BIGINT)
                    + 1
          END)))
    )[length(word) + 1] AS combined
  FROM wuv, uv_map
),
dw AS (
  SELECT d.doc_id, unnest(string_split_regex(lower(trim(d.text)), '\\s+')) AS word
  FROM documents d
),
per_doc AS (
  SELECT dw.doc_id,
         sum(uv_dp.combined % 1048576) AS n_pieces,
         sum(uv_dp.combined // 1048576) AS total_cost
  FROM dw JOIN uv_dp ON dw.word = uv_dp.word
  WHERE dw.word <> ''
  GROUP BY dw.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_pieces, 0) AS BIGINT) AS n_pieces,
       CAST(COALESCE(p.total_cost, 0) AS BIGINT) AS total_cost
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def _docs_unigram_em_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed hard-EM refinement of the unigram vocabulary, 2 rounds
    (operators/unigram.py unigram_em_vocab): E-step = exact Viterbi piece
    counts as a mapInPandas pass over the distinct-word table, M-step = one
    vocab-sized aggregate rebuilding the integer bit-length cost table;
    unused multi-char pieces prune, characters persist at usage 0. Pinned
    byte-identical to the pure-Python reference trainer (pytest); the
    oracle replays both rounds with a forward DP carrying encoded
    back-pointers plus a backtracking fold."""
    from polars_order_book_spark.operators.unigram import unigram_em_vocab

    docs = load_table(spark, sf_dir, "documents")
    return unigram_em_vocab(docs, iters=2)


def _docs_unigram_em_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization under the 2-round EM-trained unigram vocabulary — the
    end-to-end train-then-tokenize pipeline, all distributed."""
    from polars_order_book_spark.operators.unigram import (
        unigram_em_vocab,
        unigram_tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = unigram_em_vocab(docs, iters=2)
    return unigram_tokenize(docs, vocab).select(
        "doc_id", "n_pieces", "total_cost"
    )


def _unigram_em_sql(iters: int, out: str) -> str:
    """DuckDB rendering of unigram_em_vocab / the EM-trained tokenization,
    with the EM loop UNROLLED one CTE block per round (the BPE-trainer
    oracle convention). Each round: a piece→cost MAP, the forward Viterbi
    DP as a list_reduce fold that stores ``(best * 8 + last_piece_len)``
    per position (same lexicographic (cost, n_pieces) objective in one
    BIGINT, same shortest-last-piece tie-break — min over the encoding IS
    the tie-break), a second fold walking the back-pointers to collect the
    chosen pieces, and the usage-count M-step (chars persist at 0, unused
    multis prune, bits(max)-bits(n)+1 recost)."""
    dp_cand = (
        "CASE WHEN map_extract(m{t}.m, substr(word, CAST(x[1] - j + 1 AS INT), CAST(j AS INT)))[1] IS NULL\n"
        "             THEN NULL\n"
        "             ELSE ((acc[CAST(x[1] - j + 1 AS INT)] // 8)\n"
        "                  + 1048576 * CAST(map_extract(m{t}.m, substr(word, CAST(x[1] - j + 1 AS INT), CAST(j AS INT)))[1] AS BIGINT)\n"
        "                  + 1) * 8 + j\n"
        "        END"
    )
    blocks = []
    for t in range(1, iters + 1):
        cand = dp_cand.format(t=t)
        blocks.append(f"""
m{t} AS (SELECT map(list(piece), list(cost)) AS m FROM v{t - 1}),
dp{t} AS (
  SELECT word, freq,
    list_reduce(
      list_prepend(CAST([0] AS BIGINT[]),
        list_transform(range(1, length(word) + 1), i -> [CAST(i AS BIGINT)])),
      (acc, x) -> list_append(acc,
        list_min(list_transform(range(1, least(4, x[1]) + 1), j ->
          {cand})))
    ) AS enc
  FROM wuv, m{t}
),
bt{t} AS (
  SELECT word, freq,
    list_reduce(
      list_prepend([CAST(length(word) AS VARCHAR)],
        list_transform(range(1, length(word) + 1), i -> ['x'])),
      (acc, x) -> CASE WHEN CAST(acc[1] AS INT) > 0 THEN
          list_prepend(
            CAST(CAST(acc[1] AS INT) - CAST(enc[CAST(acc[1] AS INT) + 1] % 8 AS INT) AS VARCHAR),
            list_append(list_slice(acc, 2, length(acc)),
              substr(word,
                CAST(acc[1] AS INT) - CAST(enc[CAST(acc[1] AS INT) + 1] % 8 AS INT) + 1,
                CAST(enc[CAST(acc[1] AS INT) + 1] % 8 AS INT))))
          ELSE acc END
    ) AS walked
  FROM dp{t}
),
cnt{t} AS (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT freq, unnest(list_slice(walked, 2, length(walked))) AS piece FROM bt{t})
  GROUP BY piece
),
vn{t} AS (
  SELECT c.piece, CAST(coalesce(k.n, 0) AS BIGINT) AS n
  FROM uv_chars c LEFT JOIN cnt{t} k USING (piece)
  UNION ALL
  SELECT piece, n FROM cnt{t} WHERE length(piece) > 1
),
v{t} AS (
  SELECT piece, n,
         CAST((SELECT length(bin(max(n))) FROM vn{t})
              - length(bin(n)) + 1 AS BIGINT) AS cost
  FROM vn{t}
)""")
    base = """
wuv AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
),
uv_subs AS (
  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         CAST(sum(freq) AS BIGINT) AS n
  FROM wuv, range(1, 4096) r(i), range(1, 5) sl(l)
  WHERE CAST(i AS INT) + CAST(l AS INT) - 1 <= length(word)
  GROUP BY 1
),
uv_multi AS (
  SELECT piece, n FROM uv_subs WHERE length(piece) > 1
  ORDER BY n DESC, piece LIMIT 50
),
uv_chars AS (SELECT piece FROM uv_subs WHERE length(piece) = 1),
v0 AS (
  SELECT piece, n,
         CAST((SELECT length(bin(max(n))) FROM uv_subs)
              - length(bin(n)) + 1 AS BIGINT) AS cost
  FROM (SELECT piece, n FROM uv_subs WHERE length(piece) = 1
        UNION ALL SELECT piece, n FROM uv_multi)
)"""
    chain = "WITH " + base.strip() + "," + ",".join(blocks)
    if out == "vocab":
        return f"{chain}\nSELECT piece, n, cost FROM v{iters}"
    # tokens under the final cost table: forward DP only (no backtrack) —
    # n_pieces/total_cost decode from the combined BIGINT directly
    fcand = dp_cand.format(t="f")
    return f"""{chain},
mf AS (SELECT map(list(piece), list(cost)) AS m FROM v{iters}),
dpf AS (
  SELECT word,
    list_reduce(
      list_prepend(CAST([0] AS BIGINT[]),
        list_transform(range(1, length(word) + 1), i -> [CAST(i AS BIGINT)])),
      (acc, x) -> list_append(acc,
        list_min(list_transform(range(1, least(4, x[1]) + 1), j ->
          {fcand})))
    )[length(word) + 1] // 8 AS combined
  FROM wuv, mf
),
dw AS (
  SELECT d.doc_id, unnest(string_split_regex(lower(trim(d.text)), '\\s+')) AS word
  FROM documents d
),
per_doc AS (
  SELECT dw.doc_id,
         sum(dpf.combined % 1048576) AS n_pieces,
         sum(dpf.combined // 1048576) AS total_cost
  FROM dw JOIN dpf ON dw.word = dpf.word
  WHERE dw.word <> ''
  GROUP BY dw.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_pieces, 0) AS BIGINT) AS n_pieces,
       CAST(COALESCE(p.total_cost, 0) AS BIGINT) AS total_cost
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def _docs_wordfreq_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous BPE-vocab maintenance: the exact (word, freq) table the
    tokenizer trainer consumes (operators/bpe.py word_frequencies), kept
    up to date by a streaming explode + running count — complete-mode
    memory sink, so each trigger replaces the table with the full current
    vocabulary. State is vocab-sized (corpus-independent, the same reason
    learn_bpe_merges may collect it); periodic learn_bpe_merges re-runs
    read this table instead of re-scanning the corpus."""
    from polars_order_book_spark.operators.text import tokens
    from polars_order_book_spark.sources.tables import load_table_stream

    docs = load_table_stream(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return _run_stream(wf, "complete", f"{sf_dir}/documents.parquet")


DOCS_WORDFREQ_STREAM_SQL = r"""
WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents)
SELECT word, count(*) AS freq FROM tk WHERE word <> '' GROUP BY word
"""


def _hh_current(t: DataFrame) -> DataFrame:
    """Current state per key = its rows at max(n_seen): each emission lists
    every qualifying item of the key, so older emissions are superseded.
    A window (keys-sized sink relation) avoids the memory-view self-join."""
    from pyspark.sql import Window

    return (
        t.withColumn("__mx", F.max("n_seen").over(Window.partitionBy("event_type")))
        .where(F.col("n_seen") == F.col("__mx"))
        .select("event_type", "user_id", "n", "n_seen", "support")
    )


def _events_heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous per-segment heavy hitters: a keyed Misra-Gries summary as
    applyInPandasWithState streaming state (streaming/frequency_stream.py),
    driven availableNow → update-mode memory sink. k=100000 exceeds the
    distinct users per event_type at every test SF, so no pruning happens,
    counters are exact, and the final emission per key (rows at that key's
    max n_seen) equals the batch GROUP BY/HAVING heavy hitters — the
    documented exact regime. The sub-k-pruning regime (counters as lower
    bounds, no false negatives) is pinned by pytest."""
    from polars_order_book_spark.streaming import heavy_hitters_stream
    from polars_order_book_spark.sources.tables import load_table_stream

    ev = load_table_stream(spark, sf_dir, "events")
    hh = heavy_hitters_stream(ev, "event_type", "user_id", support=0.008, k=100_000)
    return _run_stream(hh, "update", f"{sf_dir}/events.parquet", _hh_current)


EVENTS_HEAVY_HITTERS_STREAM_SQL = """
WITH nn AS (
  SELECT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
t AS (SELECT event_type, count(*) AS total FROM nn GROUP BY event_type)
SELECT nn.event_type, user_id, count(*) AS n, t.total AS n_seen,
       CAST(count(*) AS DOUBLE) / CAST(t.total AS DOUBLE) AS support
FROM nn JOIN t USING (event_type)
GROUP BY nn.event_type, user_id, t.total
HAVING count(*) >= CEIL(0.008 * t.total)
"""


def _docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BPE: learn the TOP merge from the corpus word-frequency
    table (learn_bpe_merges — driver-side over the bounded vocab, the
    Sennrich split), then tokenize every document distributed through
    apply_bpe's mapInPandas path. One merge keeps the oracle exactly
    closed-form: greedy leftmost merge counts of a single pair (l, r) are
    non-overlapping substring occurrences — (len - len(replace(word, lr,
    ''))) / 2, which also yields sum(floor(run/2)) when l = r — and an
    ends-with test when r is the end-of-word sentinel. Returns
    (doc_id, n_bpe_tokens)."""
    from polars_order_book_spark.operators.bpe import (
        apply_bpe,
        learn_bpe_merges,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(word_frequencies(docs), 1)
    return apply_bpe(docs, merges).select("doc_id", "n_bpe_tokens")


DOCS_BPE_TOKENS_SQL = r"""
WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents),
w AS (SELECT word, count(*) AS freq FROM tk WHERE word <> '' GROUP BY word),
pc AS (
  SELECT substr(word, CAST(i AS INT), 1) AS l,
         CASE WHEN i = length(word) THEN '</w>' ELSE substr(word, CAST(i AS INT) + 1, 1) END AS r,
         sum(freq) AS pair_freq
  FROM w, UNNEST(range(1, length(word) + 1)) AS t(i)
  GROUP BY 1, 2
),
best AS (SELECT l, r FROM pc ORDER BY pair_freq DESC, l, r LIMIT 1),
dw AS (
  SELECT d.doc_id, unnest(string_split_regex(lower(trim(d.text)), '\s+')) AS word
  FROM documents d
),
per_word AS (
  SELECT dw.doc_id,
         length(word) + 1
         - CASE WHEN b.r = '</w>'
                THEN CASE WHEN substr(word, length(word), 1) = b.l THEN 1 ELSE 0 END
                ELSE (length(word) - length(replace(word, b.l || b.r, ''))) // 2
           END AS n_word
  FROM dw, best b
  WHERE word <> ''
)
SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d
LEFT JOIN (SELECT doc_id, sum(n_word) AS n FROM per_word GROUP BY doc_id) s
  ON d.doc_id = s.doc_id
"""


def _events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent users (count ≥ 0.75% of events) via the Misra-Gries
    sketch-prune + exact-verify operator (operators/frequency.py): map-only
    mergeable summaries bound per-task state at O(k), a broadcast semi-join
    verifies candidates exactly, so NO one-row-per-distinct-item shuffle.
    Output is exact (no-false-negative guarantee pinned by adversarial
    pytest), hence the plain GROUP BY/HAVING oracle."""
    from polars_order_book_spark.operators.frequency import heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", support=0.0075)


EVENTS_HEAVY_HITTERS_SQL = """
WITH nn AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
t AS (SELECT count(*) AS total FROM nn)
SELECT user_id, count(*) AS n,
       CAST(count(*) AS DOUBLE) / CAST(t.total AS DOUBLE) AS support
FROM nn, t
GROUP BY user_id, t.total
HAVING count(*) >= CEIL(0.0075 * t.total)
"""


def _events_heavy_hitters_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment frequent items — top users per event_type — via the keyed
    Misra-Gries generalization (operators/frequency.py heavy_hitters_by):
    each partition keeps an independent ≤ k-counter mergeable summary per key
    it sees, candidates verify with one exact groupBy(key, item), thresholds
    come from the broadcast per-key totals. Exact per key (pigeonhole
    no-false-negative within each segment), hence the GROUP BY/HAVING
    oracle."""
    from polars_order_book_spark.operators.frequency import heavy_hitters_by

    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters_by(ev, "event_type", "user_id", support=0.008)


EVENTS_HEAVY_HITTERS_BY_TYPE_SQL = """
WITH nn AS (
  SELECT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
t AS (SELECT event_type, count(*) AS total FROM nn GROUP BY event_type)
SELECT nn.event_type, user_id, count(*) AS n,
       CAST(count(*) AS DOUBLE) / CAST(t.total AS DOUBLE) AS support
FROM nn JOIN t USING (event_type)
GROUP BY nn.event_type, user_id, t.total
HAVING count(*) >= CEIL(0.008 * t.total)
"""


def _events_heavy_hitters_stream_abs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABSOLUTE-threshold streaming heavy hitters — the scale-aware twin
    of events_heavy_hitters_stream, mirroring the batch pair
    (events_heavy_hitters_by_type → events_heavy_hitters_abs): relative
    support dilutes as the stream grows (the sf10 sweep's relative row runs
    but emits 0 rows at 10M events), while "users with ≥ 20 events of a
    type" emits a set bounded a priori at n_seen/min_count at every scale.
    Same Misra-Gries managed state, same exact regime (k exceeds distinct
    users per type at every test SF, so counters are true counts and the
    final emission equals the batch GROUP BY/HAVING with the absolute
    threshold)."""
    from polars_order_book_spark.streaming import heavy_hitters_stream
    from polars_order_book_spark.sources.tables import load_table_stream

    ev = load_table_stream(spark, sf_dir, "events")
    hh = heavy_hitters_stream(
        ev, "event_type", "user_id", min_count=20, k=100_000
    )
    return _run_stream(hh, "update", f"{sf_dir}/events.parquet", _hh_current)


EVENTS_HEAVY_HITTERS_STREAM_ABS_SQL = """
WITH nn AS (
  SELECT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
t AS (SELECT event_type, count(*) AS total FROM nn GROUP BY event_type)
SELECT nn.event_type, user_id, count(*) AS n, t.total AS n_seen,
       CAST(count(*) AS DOUBLE) / CAST(t.total AS DOUBLE) AS support
FROM nn JOIN t USING (event_type)
GROUP BY nn.event_type, user_id, t.total
HAVING count(*) >= 20
"""


def _events_heavy_hitters_abs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment frequent items under an ABSOLUTE count threshold
    (operators/frequency.py heavy_hitters_by_count) — the scale-aware
    sibling of events_heavy_hitters_by_type: relative support dilutes as
    data grows (the by_type query emits 0 rows at sf1, SCALE.md §r9-7);
    "users with >= 20 events of a type" keeps the same contract at every
    scale. Exact, no sketch: an absolute threshold bounds the qualifying
    set at N/min_count a priori, so one map-side-combined groupBy is the
    whole plan."""
    from polars_order_book_spark.operators.frequency import heavy_hitters_by_count

    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters_by_count(ev, "event_type", "user_id", min_count=20)


EVENTS_HEAVY_HITTERS_ABS_SQL = """
WITH nn AS (
  SELECT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
t AS (SELECT event_type, count(*) AS total FROM nn GROUP BY event_type)
SELECT nn.event_type, user_id, count(*) AS n,
       CAST(count(*) AS DOUBLE) / CAST(t.total AS DOUBLE) AS support
FROM nn JOIN t USING (event_type)
GROUP BY nn.event_type, user_id, t.total
HAVING count(*) >= 20
"""


def _events_heavy_hitters_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed multi-key segments — top users per (day, event_type) —
    the windowed shape real curation dashboards use, exercising
    heavy_hitters_by's multi-column key path (per-(partition, key tuple)
    Misra-Gries summaries). Day arrives as epoch micros of the truncated
    timestamp (the engine-portable encoding every time-keyed oracle here
    uses)."""
    from polars_order_book_spark.operators.frequency import heavy_hitters_by

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_us", F.unix_micros(F.date_trunc("day", F.col("ts")))
    )
    return heavy_hitters_by(
        ev, ["day_us", "event_type"], "user_id", support=0.05
    )


EVENTS_HEAVY_HITTERS_WINDOWED_SQL = """
WITH nn AS (
  SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type, user_id
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
),
t AS (SELECT day_us, event_type, count(*) AS total FROM nn GROUP BY day_us, event_type)
SELECT nn.day_us, nn.event_type, user_id, count(*) AS n,
       CAST(count(*) AS DOUBLE) / CAST(t.total AS DOUBLE) AS support
FROM nn JOIN t USING (day_us, event_type)
GROUP BY nn.day_us, nn.event_type, user_id, t.total
HAVING count(*) >= CEIL(0.05 * t.total)
"""


def _embeddings_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact distributed Lloyd iteration over the embeddings table from
    the 8 deterministic md5-derived init centroids — map-only assignment
    against constant-folded literals, ONE groupBy(cell) with exact decimal
    per-dimension sums; long-form (cell, d, centroid, n_members) output
    hashes bit-for-bit."""
    from polars_order_book_spark.operators.similarity import (
        centroid_component,
        kmeans_step,
    )

    cents = [[centroid_component(c, j) for j in range(64)] for c in range(8)]
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_step(emb, cents)


def _embeddings_kmeans_step_sql() -> str:
    from polars_order_book_spark.operators.similarity import centroid_component

    cents = [[centroid_component(c, j) for j in range(64)] for c in range(8)]

    def clit(c):
        return "[" + ", ".join(repr(x) for x in c) + "]"

    def dist(c):
        diff = f"list_transform(list_zip(v, {clit(c)}), x -> x[1] - x[2])"
        return f"list_dot_product({diff}, {diff})"

    dists = ",\n           ".join(dist(c) for c in cents)
    return f"""
WITH vecs AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT v, [{dists}] AS ds FROM vecs),
a AS (SELECT v, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell FROM d),
e AS (
    SELECT a.cell, gs.d, a.v[gs.d + 1] AS x
    FROM a, (SELECT unnest(range(0, 64)) AS d) gs
)
SELECT cell, CAST(d AS INT) AS d,
       round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS centroid,
       count(*) AS n_members
FROM e GROUP BY cell, d
"""


def _embeddings_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd iterations (k=8): iteration-1 centroids (exact decimal
    means rounded at 1e-6) collect driver-side (k x dim scalars) and fold
    into iteration 2 as literals; output is iteration 2's step relation.
    The oracle replays the chain in SQL, so the hash check covers BOTH
    iterations end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_train(emb, k=8, n_iter=2)


def _embeddings_kmeans_train_sql() -> str:
    from polars_order_book_spark.operators.similarity import centroid_component

    cents = [[centroid_component(c, j) for j in range(64)] for c in range(8)]

    def clit(c):
        return "[" + ", ".join(repr(x) for x in c) + "]"

    def dist(c):
        diff = f"list_transform(list_zip(v, {clit(c)}), x -> x[1] - x[2])"
        return f"list_dot_product({diff}, {diff})"

    dists = ",\n           ".join(dist(c) for c in cents)
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d1 AS (SELECT vec_id, v, [{dists}] AS ds FROM vecs),
a1 AS (SELECT vec_id, v, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell FROM d1),
e1 AS (
    SELECT a1.cell, gs.d, a1.v[gs.d + 1] AS x
    FROM a1, (SELECT unnest(range(0, 64)) AS d) gs
),
c1 AS (
    SELECT cell, d,
           round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS centroid
    FROM e1 GROUP BY cell, d
),
init AS (
    SELECT c AS cell, j AS d,
           (CAST(concat('0x', substr(md5(concat('ivf', CAST(c AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
            % 1000) / 1000.0 - 0.5 AS centroid
    FROM range(0, 8) t(c), range(0, 64) u(j)
),
c1full AS (
    SELECT i.cell, i.d, coalesce(c.centroid, i.centroid) AS centroid
    FROM init i LEFT JOIN c1 c ON c.cell = i.cell AND c.d = i.d
),
c1v AS (SELECT cell, list(centroid ORDER BY d) AS cv FROM c1full GROUP BY cell),
d2 AS (
    SELECT n.vec_id, n.v, c.cell,
           list_dot_product(list_transform(list_zip(n.v, c.cv), x -> x[1] - x[2]),
                            list_transform(list_zip(n.v, c.cv), x -> x[1] - x[2])) AS dist
    FROM vecs n CROSS JOIN c1v c
),
a2 AS (
    SELECT vec_id, v, cell FROM (
        SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d2
    ) WHERE rn = 1
),
e2 AS (
    SELECT a2.cell, gs.d, a2.v[gs.d + 1] AS x
    FROM a2, (SELECT unnest(range(0, 64)) AS d) gs
)
SELECT CAST(cell AS INT) AS cell, CAST(d AS INT) AS d,
       round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS centroid,
       count(*) AS n_members
FROM e2 GROUP BY cell, d
"""


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk_ivf(emb, queries, k=10, n_cells=8, n_probe=2)


ANN_IVF_SQL = """
WITH centroids AS (
    SELECT c,
           list_transform(range(0, 64), j ->
               (CAST(concat('0x', substr(md5(concat('ivf', CAST(c AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
                % 1000) / 1000.0 - 0.5) AS cv
    FROM range(0, 8) t(c)
),
allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
sims AS (
    SELECT vec_id, c,
           list_dot_product(vv, cv) / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))) AS s
    FROM allv CROSS JOIN centroids
),
ranked AS (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
    FROM sims
),
va AS (SELECT vec_id AS neighbor_id, c AS cell FROM ranked WHERE rn <= 1),
qa AS (SELECT vec_id AS query_id, c AS cell FROM ranked WHERE rn <= 2 AND vec_id < 5),
pair AS (
    SELECT qa.query_id, va.neighbor_id,
           list_dot_product(q.vv, v.vv)
             / (sqrt(list_dot_product(q.vv, q.vv)) * sqrt(list_dot_product(v.vv, v.vv))) AS cosine
    FROM qa
    JOIN va ON va.cell = qa.cell
    JOIN allv q ON q.vec_id = qa.query_id
    JOIN allv v ON v.vec_id = va.neighbor_id
    WHERE va.neighbor_id <> qa.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM pair
)
WHERE rank <= 10
"""


def _ann_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # round(9): BLAS reduction order differs from the oracle's left fold by
    # ~1e-15; quantizing makes the value-hash comparable.
    return similarity.cosine_topk_blas(emb, queries, k=10, round_digits=9)


ANN_BLAS_SQL = f"""
SELECT query_id, neighbor_id, rank, round(cosine, 9) AS cosine
FROM ({ANN_SQL})
"""


def _dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.neardup_embedding_pairs(emb, threshold=0.4)


DEDUP_EMBEDDING_SQL = f"""
WITH {_bucket_sql(16)},
bands AS (
    SELECT vec_id, b AS band, substr(bucket, CAST(b * 4 + 1 AS INT), 4) AS key
    FROM buckets, range(0, 4) r(b)
),
cands AS (
    SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.vec_id < b.vec_id
),
sim AS (
    SELECT c.doc_a, c.doc_b,
           list_dot_product(va.vv, vb.vv)
             / (sqrt(list_dot_product(va.vv, va.vv)) * sqrt(list_dot_product(vb.vv, vb.vv))) AS cosine
    FROM cands c
    JOIN allv va ON va.vec_id = c.doc_a
    JOIN allv vb ON vb.vec_id = c.doc_b
)
SELECT doc_a, doc_b, cosine FROM sim WHERE cosine >= 0.4
"""


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(load_table(spark, sf_dir, "documents"))


_STOP_LIST_SQL = "['" + "', '".join(text.EN_STOPWORDS) + "']"

TEXT_QUALITY_SQL = f"""
WITH base AS (
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
           length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct,
           len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
                              {_STOP_LIST_SQL})) AS n_stopwords
    FROM documents
)
SELECT doc_id, n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token,
       CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio
FROM base
"""


def _text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(load_table(spark, sf_dir, "documents"))


TEXT_LANG_SQL = f"""
SELECT doc_id,
       CAST(hits AS BIGINT) AS stopword_hits,
       CASE WHEN hits >= 3 THEN 'en' WHEN hits >= 1 THEN 'en_maybe' ELSE 'und' END AS lang_pred
FROM (
    SELECT doc_id,
           len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
                              {_STOP_LIST_SQL})) AS hits
    FROM documents
)
"""


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


TEXT_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ')) AS fingerprint
FROM documents
"""


def _text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnow_fingerprints(load_table(spark, sf_dir, "documents"), k=3, w=4)


TEXT_WINNOW_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
grams AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           CAST(concat('0x', substr(md5(concat_ws(' ', t[i+1], t[i+2], t[i+3])), 1, 15)) AS BIGINT) AS h
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 3 AND i <= len(t) - 3
),
wins AS (
    SELECT doc_id, pos,
           min({'h': h, 'p': pos}) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
           ) AS am,
           count(*) OVER (PARTITION BY doc_id) AS n
    FROM grams
)
SELECT DISTINCT doc_id, (am).p AS pos, (am).h AS fp_hash
FROM wins WHERE pos <= n - 4 OR pos = 0
"""


def _text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocabulary(load_table(spark, sf_dir, "documents"))


TEXT_VOCABULARY_SQL = """
SELECT tok AS token,
       count(DISTINCT doc_id) AS doc_freq,
       count(*) AS total_count
FROM (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents
)
GROUP BY tok
"""


def _text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tf_idf(load_table(spark, sf_dir, "documents"))


TEXT_TFIDF_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
total AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
SELECT tf.doc_id, tf.token, tf.tf,
       tf.tf * (CAST(total.n + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS tfidf
FROM tf JOIN dfreq USING (token) CROSS JOIN total
"""


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_features(load_table(spark, sf_dir, "documents"), ngram=5)


# Mirrors repetition_features: n-grams via positional list indexing (the
# winnow-SQL pattern), struct-max tie-break identical to Spark's struct
# ordering (count, then lexicographically greatest bigram).
TEXT_REPETITION_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
stats AS (
    SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
           list_sum(list_transform(t, x -> length(x))) AS tok_chars
    FROM toks
),
bi AS (
    SELECT doc_id, concat_ws(' ', t[i+1], t[i+2]) AS g
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 2 AND i <= len(t) - 2
),
bitop AS (
    SELECT doc_id, max({'c': cnt, 'g': g}) AS top
    FROM (SELECT doc_id, g, count(*) AS cnt FROM bi GROUP BY doc_id, g)
    GROUP BY doc_id
),
ng AS (
    SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4], t[i+5]) AS g
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 5 AND i <= len(t) - 5
),
ngd AS (
    SELECT doc_id, sum((cnt - 1) * (length(g) - 4)) AS dup_chars
    FROM (SELECT doc_id, g, count(*) AS cnt FROM ng GROUP BY doc_id, g)
    WHERE cnt > 1
    GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.n_tokens - s.n_distinct AS DOUBLE) / s.n_tokens AS dup_token_frac,
       (bitop.top).g AS top_bigram,
       CAST(coalesce((bitop.top).c * (length((bitop.top).g) - 1), 0) AS DOUBLE)
           / greatest(s.tok_chars, 1) AS top_bigram_frac,
       CAST(coalesce(ngd.dup_chars, 0) AS DOUBLE)
           / greatest(s.tok_chars, 1) AS dup_ngram_frac
FROM stats s
LEFT JOIN bitop USING (doc_id)
LEFT JOIN ngd USING (doc_id)
"""


def _text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: probe = every 97th document (a stand-in for a
    benchmark suite), token-4-gram overlap against the full corpus."""
    docs = load_table(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 97 == 0)
    # n=4 on this synthetic small-vocab corpus plays the role 8-13-gram
    # checks play on natural text: rare enough to be meaningful, common
    # enough that near-duplicates of probe docs actually trip it.
    return text.ngram_contamination(docs, probe, n=4)


TEXT_CONTAMINATION_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
grams AS (
    SELECT doc_id,
           concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4]) AS g
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 4 AND i <= len(t) - 4
),
cg AS (SELECT DISTINCT doc_id, g FROM grams),
pg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
hits AS (SELECT doc_id, count(*) AS n_matched FROM cg JOIN pg USING (g) GROUP BY doc_id),
stats AS (SELECT doc_id, greatest(len(t) - 3, 0) AS n_grams FROM toks)
SELECT s.doc_id,
       CAST(s.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_matched, 0) AS BIGINT) AS n_matched,
       coalesce(h.n_matched, 0) > 0 AS contaminated
FROM stats s LEFT JOIN hits h USING (doc_id)
"""


def _text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        text.bpe_ish_token_count("text").alias("n_bpe_ish"),
    )


TEXT_TOKENS_SQL = """
SELECT doc_id,
       CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_ish
FROM documents
"""


# Irregular, disjoint half-open price bands — deliberately NOT aligned to the
# bucket width so the bucketed range join's refine filter does real work.
_PRICE_BANDS = [
    ("micro", 0.0, 4500.0),
    ("small", 4500.0, 21000.0),
    ("mid", 21000.0, 58000.0),
    ("large", 58000.0, 123000.0),
    ("xl", 123000.0, 207000.0),
    ("xxl", 207000.0, 333000.0),
    ("whale", 333000.0, 1000000.0),
]


def _orders_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (equi-join on bucket id, no nested loop): band every
    order by total price against an interval table, then aggregate per band.
    min/max are order-insensitive double aggregates — hash-stable across
    engines, unlike a float sum."""
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    joined = ranges.range_join(
        orders, bands, point_col="o_totalprice", lo_col="lo", hi_col="hi",
        bucket_width=20000.0,
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_total"),
        F.max("o_totalprice").alias("max_total"),
    )


_BANDS_VALUES_SQL = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)

ORDERS_PRICE_BANDS_SQL = f"""
WITH bands(band, lo, hi) AS (VALUES {_BANDS_VALUES_SQL})
SELECT band, count(*) AS n_orders,
       min(o_totalprice) AS min_total,
       max(o_totalprice) AS max_total
FROM orders JOIN bands ON lo <= o_totalprice AND o_totalprice < hi
GROUP BY band
"""


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_image_features(docs)


MULTIMODAL_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
       64 + octet_length(encode(text)) % 512 AS fake_width,
       64 + (octet_length(encode(text)) * 7) % 512 AS fake_height,
       CAST(3 AS BIGINT) AS fake_channels
FROM documents
"""


def _multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_audio_features_stub(docs)


# ASCII payloads: per-byte sum == per-char ascii() sum.
MULTIMODAL_AUDIO_SQL = """
WITH base AS (
    SELECT doc_id, text, octet_length(encode(text)) AS n,
           8000 * (1 + octet_length(encode(text)) % 3) AS rate
    FROM documents
),
sums AS (
    SELECT doc_id, CAST(sum(ascii(substr(text, CAST(i AS INT), 1))) AS BIGINT) AS s
    FROM base, range(1, 8192) r(i)
    WHERE i <= n
    GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS n_bytes,
       CAST(b.rate AS BIGINT) AS fake_sample_rate,
       CAST((b.n * 1000) // (b.rate * 2) AS BIGINT) AS fake_duration_ms,
       CAST(1 + b.n % 2 AS BIGINT) AS fake_channels,
       CAST(CASE WHEN b.n = 0 THEN 0 ELSE s.s // b.n END AS BIGINT) AS rms_proxy
FROM base b LEFT JOIN sums s USING (doc_id)
"""


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.resize_image_stub(docs)


# Text is ASCII in the derived payloads (octet_length == length), so the
# VARCHAR prefix mirrors the binary prefix byte-for-byte — DuckDB's md5 does
# not accept BLOBs.
MULTIMODAL_RESIZE_SQL = """
SELECT doc_id,
       CAST(LEAST(octet_length(encode(text)), 384) AS BIGINT) AS out_bytes,
       md5(substr(text, 1, CAST(LEAST(octet_length(encode(text)), 384) AS INT))) AS resized_md5
FROM documents
"""


def _frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.frame_sample_stub(docs)


FRAME_SAMPLE_SQL = """
SELECT doc_id, CAST(i AS BIGINT) AS frame_no, CAST(i * 64 AS BIGINT) AS byte_offset
FROM documents, range(0, 4096) r(i)
WHERE i <= (octet_length(encode(text)) - 1) // 64
"""


# ---------------------------------------------------------------------------
# new in r6 session 2: SemDeDup, split labels, bigram LM, knn graph,
# streaming ANN
# ---------------------------------------------------------------------------


def _embeddings_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-prune semantic dedup): nearest-centroid cells
    over the 8 deterministic md5 centroids, within-cell pairwise cosine >=
    0.4 drops the larger id. keep is int 0/1 — the output carries no floats,
    so the hash compare rides only on the (bit-exact) cell assignment and
    threshold comparison."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb)


def _embeddings_semdedup_sql() -> str:
    from polars_order_book_spark.operators.similarity import centroid_component

    cents = [[centroid_component(c, j) for j in range(64)] for c in range(8)]

    def clit(c):
        return "[" + ", ".join(repr(x) for x in c) + "]"

    def dist(c):
        diff = f"list_transform(list_zip(v, {clit(c)}), x -> x[1] - x[2])"
        return f"list_dot_product({diff}, {diff})"

    dists = ",\n           ".join(dist(c) for c in cents)
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, v, [{dists}] AS ds FROM vecs),
a AS (SELECT vec_id, v, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell FROM d),
dup_b AS (
    SELECT DISTINCT y.vec_id
    FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
    WHERE list_dot_product(x.v, y.v)
          / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4
)
SELECT a.vec_id, a.cell,
       CAST(CASE WHEN a.vec_id IN (SELECT vec_id FROM dup_b) THEN 0 ELSE 1 END AS INT) AS keep
FROM a
"""


def _embeddings_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: the new batch (vec_id < 100) adjudicated against
    the existing corpus (vec_id >= 100) — bipartite cell join (corpus always
    wins) plus the batch min-id rule within the new slice. Verdicts for the
    NEW side only; corpus×corpus pairs are never generated."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup_incremental(
        emb.where(F.col("vec_id") < 100), emb.where(F.col("vec_id") >= 100)
    )


def _embeddings_semdedup_incremental_sql() -> str:
    from polars_order_book_spark.operators.similarity import centroid_component

    cents = [[centroid_component(c, j) for j in range(64)] for c in range(8)]

    def clit(c):
        return "[" + ", ".join(repr(x) for x in c) + "]"

    def dist(c):
        diff = f"list_transform(list_zip(v, {clit(c)}), x -> x[1] - x[2])"
        return f"list_dot_product({diff}, {diff})"

    dists = ",\n           ".join(dist(c) for c in cents)
    cos = ("list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v))"
           " * sqrt(list_dot_product(y.v, y.v)))")
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, v, [{dists}] AS ds FROM vecs),
a AS (SELECT vec_id, v, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell FROM d),
newv AS (SELECT * FROM a WHERE vec_id < 100),
corp AS (SELECT * FROM a WHERE vec_id >= 100),
drop_corpus AS (
    SELECT DISTINCT x.vec_id
    FROM newv x JOIN corp y ON x.cell = y.cell AND x.vec_id <> y.vec_id
    WHERE {cos} >= 0.4
),
drop_batch AS (
    SELECT DISTINCT y.vec_id
    FROM newv x JOIN newv y ON x.cell = y.cell AND x.vec_id < y.vec_id
    WHERE {cos} >= 0.4
)
SELECT n.vec_id, n.cell,
       CAST(CASE WHEN n.vec_id IN (SELECT vec_id FROM drop_corpus)
                   OR n.vec_id IN (SELECT vec_id FROM drop_batch)
                 THEN 0 ELSE 1 END AS INT) AS keep
FROM newv n
"""


def _embeddings_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss compression of every embedding to 8 components
    against md5-derived literal planes — map-only, long-form scalar output."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.random_projection(emb, out_dim=8)


def _embeddings_random_projection_sql() -> str:
    from polars_order_book_spark.operators.similarity import _rp_component

    def clit(d):
        # bare decimal literals parse as DECIMAL in DuckDB — CAST each to
        # DOUBLE so the dot runs in doubles like the Spark fold
        return "[" + ", ".join(
            f"CAST('{_rp_component(d, j)!r}' AS DOUBLE)" for j in range(64)
        ) + "]"

    comps = ",\n        ".join(
        f"struct_pack(d := {d}, value := list_dot_product(v, {clit(d)}))"
        for d in range(8)
    )
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p0 AS (
    SELECT vec_id, unnest([
        {comps}
    ]) AS p
    FROM vecs
)
SELECT vec_id, CAST(p.d AS INT) AS d, p.value AS value FROM p0
"""


_PQ_CW_SQL = """
cw AS (
    SELECT s, c,
           list_transform(range(0, 16), j ->
               (CAST(concat('0x', substr(md5(concat('pq', CAST(s AS VARCHAR), '/', CAST(c AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
                % 1000) / 1000.0 - 0.5) AS cv
    FROM range(0, 4) ts(s), range(0, 16) tc(c)
),
allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
scored AS (
    SELECT a.vec_id, w.s, w.c,
           (list_dot_product(w.cv, w.cv)
             - (2.0 * list_dot_product(a.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)], w.cv))) AS score
    FROM allv a CROSS JOIN cw w
),
codes AS (
    SELECT vec_id, CAST(s AS INT) AS sub, CAST(c AS INT) AS code FROM (
        SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY score, c) AS rn
        FROM scored
    ) WHERE rn = 1
)"""


def _embeddings_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: each vector compressed to m=4 codes over
    16-codeword md5-derived sub-codebooks (2 bytes replacing 256) — the
    storage half of PQ ANN, map-only against literal codebooks."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_encode(emb)


EMBEDDINGS_PQ_CODES_SQL = f"""
WITH {_PQ_CW_SQL}
SELECT vec_id, sub, code FROM codes
"""


def _embeddings_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10: the query's per-subspace LUT (ksub
    exact distances to literal codewords) is broadcast against the
    128x-compressed code relation; per-candidate cost is 4 array lookups.
    Approximate by construction — adist quantizes the corpus side — and
    bit-exact vs the oracle (pinned associativity, see similarity.pq_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk(emb, queries, k=10)


EMBEDDINGS_PQ_TOPK_SQL = f"""
WITH {_PQ_CW_SQL},
qlut AS (
    SELECT q.vec_id AS query_id, w.s, w.c,
           ((list_dot_product(q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)],
                              q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)])
              - (2.0 * list_dot_product(q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)], w.cv)))
             + list_dot_product(w.cv, w.cv)) AS score
    FROM (SELECT vec_id, vv FROM allv WHERE vec_id < 5) q CROSS JOIN cw w
),
pairsub AS (
    SELECT l.query_id, cd.vec_id AS neighbor_id, l.s, l.score
    FROM codes cd JOIN qlut l ON l.s = cd.sub AND l.c = cd.code
    WHERE cd.vec_id <> l.query_id
),
adists AS (
    SELECT query_id, neighbor_id,
           (((MAX(CASE WHEN s = 0 THEN score END) + MAX(CASE WHEN s = 1 THEN score END))
              + MAX(CASE WHEN s = 2 THEN score END)) + MAX(CASE WHEN s = 3 THEN score END)) AS adist
    FROM pairsub GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adist FROM (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
    FROM adists
) WHERE rank <= 10
"""


def _docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveWeb quality rules (Rae et al. 2021 A1.1) per document:
    measurements + one boolean per rule + conjunctive keep, in one map-only
    projection."""
    return text.gopher_rules(load_table(spark, sf_dir, "documents"))


DOCS_GOPHER_RULES_SQL = """
WITH base AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS words,
           string_split(text, chr(10)) AS lines,
           text AS t
    FROM documents
),
m AS (
    SELECT doc_id,
           len(words) AS n_words,
           len(lines) AS n_lines,
           list_sum(list_transform(words, w -> length(w))) AS sum_word_len,
           length(t) - length(replace(t, '#', '')) AS n_hash,
           CAST((length(t) - length(replace(t, '...', ''))) / 3 AS BIGINT)
             + (length(t) - length(replace(t, '…', ''))) AS n_ellipsis,
           len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[•*-]'))) AS n_bullet_lines,
           len(list_filter(lines, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS n_ellipsis_lines,
           len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS n_alpha_words,
           len(list_intersect(list_distinct(words),
                              ['the','be','to','of','and','that','have','with'])) AS stop_hits
    FROM base
),
r AS (
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(sum_word_len AS DOUBLE) / n_words AS mean_word_len,
           CAST(n_hash AS DOUBLE) / n_words AS hash_ratio,
           CAST(n_ellipsis AS DOUBLE) / n_words AS ellipsis_ratio,
           CAST(n_bullet_lines AS DOUBLE) / n_lines AS bullet_line_frac,
           CAST(n_ellipsis_lines AS DOUBLE) / n_lines AS ellipsis_line_frac,
           CAST(n_alpha_words AS DOUBLE) / n_words AS alpha_word_frac,
           CAST(stop_hits AS BIGINT) AS n_stopword_hits
    FROM m
)
SELECT *,
       (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND ok_bullet_lines
        AND ok_ellipsis_lines AND ok_alpha_words AND ok_stopwords) AS keep
FROM (
    SELECT *,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_word_len,
           (hash_ratio <= CAST('0.1' AS DOUBLE)
            AND ellipsis_ratio <= CAST('0.1' AS DOUBLE)) AS ok_symbol_ratio,
           (bullet_line_frac <= CAST('0.9' AS DOUBLE)) AS ok_bullet_lines,
           (ellipsis_line_frac <= CAST('0.3' AS DOUBLE)) AS ok_ellipsis_lines,
           (alpha_word_frac >= CAST('0.8' AS DOUBLE)) AS ok_alpha_words,
           (n_stopword_hits >= 2) AS ok_stopwords
    FROM r
)
"""


def _docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty vs everything earlier in the corpus: the
    fraction of its distinct 3-grams first owned (min doc_id) by itself —
    one min-window by gram + one per-doc rollup, no joins."""
    return text.ngram_novelty(load_table(spark, sf_dir, "documents"))


DOCS_NGRAM_NOVELTY_SQL = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gram
    FROM toks
    WHERE len(t) >= 3
),
owned AS (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY gram) AS first_owner FROM grams
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_owner = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN first_owner = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
FROM owned GROUP BY doc_id
"""


def _docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum interleave by token count: 10 ntile quality
    bins, hash-shuffled within bin, order_key round-robins one doc per bin —
    consuming order_key ascending IS the schedule."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return sampling.curriculum_order(base, "n_tokens")


def _docs_curriculum_order_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    return rf"""
WITH base AS (
    SELECT doc_id, CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS metric
    FROM documents
),
binned AS (
    SELECT doc_id, metric, ntile(10) OVER (ORDER BY metric, doc_id) - 1 AS bin FROM base
),
pos AS (
    SELECT doc_id, metric, bin,
           row_number() OVER (PARTITION BY bin
                              ORDER BY {hash64_sql('CAST(doc_id AS VARCHAR)')}, doc_id) - 1 AS pos_in_bin
    FROM binned
)
SELECT doc_id, metric, CAST(bin AS INT) AS bin, CAST(pos_in_bin AS BIGINT) AS pos_in_bin,
       CAST(pos_in_bin * 10 + bin AS BIGINT) AS order_key
FROM pos
"""


def _classifier_chain_sql(dim: int = 16, n_iter: int = 2, lr: float = 0.5) -> str:
    """DuckDB replay of the classifier's exact integer-micros training chain
    (operators/classifier.py): presence features + bias, weak label
    lang='en'. Iteration 1 from zero weights has sigmoid(0)=0.5 exactly;
    later iterations quantize the sigmoid error to micros before any sum,
    so every CTE is integer arithmetic."""
    from polars_order_book_spark.functions.hashing import hash64_sql

    h = hash64_sql("tok")
    d1 = dim + 1
    ctes = [
        "tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), "
        r"'\s+')) AS tok FROM documents)",
        f"f0 AS (SELECT doc_id, CAST({h} % {dim} AS INT) AS j, CAST(1 AS BIGINT) AS x"
        " FROM tok WHERE tok <> '' GROUP BY doc_id, j)",
        f"feats AS (SELECT * FROM f0 UNION ALL SELECT doc_id, CAST({dim} AS INT) AS j,"
        " CAST(1 AS BIGINT) AS x FROM documents)",
        "labels AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y FROM documents)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM labels)",
        f"idx AS (SELECT CAST(unnest(range(0,{d1})) AS INT) AS j)",
        "w0 AS (SELECT j, CAST(0 AS BIGINT) AS w_m FROM idx)",
    ]
    for i in range(1, n_iter + 1):
        prev = f"w{i - 1}"
        if i == 1:
            ctes.append(
                "err1 AS (SELECT doc_id, CAST(FLOOR((0.5 - y)*1000000 + 0.5)"
                " AS BIGINT) AS err_m FROM labels)"
            )
        else:
            ctes.append(
                f"m{i} AS (SELECT f.doc_id, sum(f.x*{prev}.w_m) AS mm"
                f" FROM feats f JOIN {prev} USING (j) GROUP BY f.doc_id)"
            )
            ctes.append(
                f"err{i} AS (SELECT m{i}.doc_id,"
                " CAST(FLOOR((1.0/(1.0+exp(-(mm/1000000.0))) - y)*1000000 + 0.5)"
                f" AS BIGINT) AS err_m FROM m{i} JOIN labels USING (doc_id))"
            )
        ctes.append(
            f"g{i} AS (SELECT f.j, CAST(FLOOR(sum(f.x*e.err_m)/(SELECT n FROM nn)"
            f" + 0.5) AS BIGINT) AS gm FROM feats f JOIN err{i} e USING (doc_id)"
            " GROUP BY f.j)"
        )
        ctes.append(
            f"w{i} AS (SELECT idx.j, CAST({prev}.w_m - FLOOR({lr!r}*coalesce(gm,0)+0.5)"
            f" AS BIGINT) AS w_m FROM idx LEFT JOIN g{i} USING (j)"
            f" JOIN {prev} ON {prev}.j = idx.j)"
        )
    return "WITH " + ",\n".join(ctes)


def _docs_with_weak_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )


def _docs_classifier_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact full-batch logistic-regression gradient step from zero
    weights over hashed presence features (operators/classifier.py): the
    whole chain is integer micros, so the DuckDB oracle replays it
    bit-for-bit. Weak label: lang='en' (the distillation shape — rule in,
    model out)."""
    return clf.logreg_train(
        _docs_with_weak_label(spark, sf_dir), n_iter=1, dim=16, lr=0.5
    )


def _docs_classifier_step_sql() -> str:
    return _classifier_chain_sql(dim=16, n_iter=1) + """
SELECT idx.j, CAST(coalesce(gm,0) AS BIGINT) AS grad_micro, w1.w_m AS w_next_micro
FROM idx LEFT JOIN g1 USING (j) JOIN w1 ON w1.j = idx.j
"""


def _docs_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 2 exact iterations (weights collect driver-side — dim+1
    integers, the kmeans_train bounded-collect contract) then score every
    document: (doc_id, score_micro, pred). The oracle replays BOTH
    iterations and the scoring pass, so the hash check covers train+apply
    end-to-end. Featurization is derived ONCE and shared between train and
    score (r11: the scoring pass previously re-ran the tokenize/hash/groupBy
    chain for identical values — one full corpus pass removed; results
    unchanged, oracle-verified)."""
    docs = _docs_with_weak_label(spark, sf_dir)
    feats = clf.doc_features(docs, dim=16).localCheckpoint(eager=False)
    step = clf.logreg_train(docs, n_iter=2, dim=16, lr=0.5, feats=feats)
    return clf.logreg_score(docs, clf.collect_weights(step, 16), feats=feats)


def _docs_classifier_score_sql() -> str:
    return _classifier_chain_sql(dim=16, n_iter=2) + """,
m3 AS (SELECT f.doc_id, sum(f.x*w2.w_m) AS mm FROM feats f JOIN w2 USING (j) GROUP BY f.doc_id),
sc AS (SELECT doc_id, CAST(FLOOR((1.0/(1.0+exp(-(mm/1000000.0))))*1000000 + 0.5) AS BIGINT) AS score_micro FROM m3)
SELECT doc_id, score_micro, CAST(score_micro >= 500000 AS INT) AS pred FROM sc
"""


def _docs_classifier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit (operators/classifier.py reliability_table): train
    the 2-iteration chain, score every document, bucket score_micro into 10
    integer bins, and compare mean predicted probability vs the empirical
    positive rate per bin — the reliability diagram as a table, THE check
    before a classifier threshold keeps/drops corpus documents at 100 TB
    (a miscalibrated filter silently shifts the kept distribution). The
    oracle replays the full train+score chain and the bins rollup; counts
    and score sums are exact integers, the two ratios one double division
    each."""
    docs = _docs_with_weak_label(spark, sf_dir)
    feats = clf.doc_features(docs, dim=16).localCheckpoint(eager=False)
    step = clf.logreg_train(docs, n_iter=2, dim=16, lr=0.5, feats=feats)
    scored = clf.logreg_score(docs, clf.collect_weights(step, 16), feats=feats)
    # n_buckets=100: the synthetic corpus' near-collinear docs score in a
    # ~37k-micro band (all one decile) — centi-bins exercise several rows
    return clf.reliability_table(scored, docs, n_buckets=100)


def _docs_classifier_reliability_sql() -> str:
    return _classifier_chain_sql(dim=16, n_iter=2) + """,
m3 AS (SELECT f.doc_id, sum(f.x*w2.w_m) AS mm FROM feats f JOIN w2 USING (j) GROUP BY f.doc_id),
sc AS (SELECT doc_id, CAST(FLOOR((1.0/(1.0+exp(-(mm/1000000.0))))*1000000 + 0.5) AS BIGINT) AS score_micro FROM m3),
lab AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y FROM documents),
b AS (
  SELECT least(sc.score_micro * 100 // 1000000, 99) AS bucket, sc.score_micro, lab.y
  FROM sc JOIN lab USING (doc_id)
)
SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(score_micro) AS BIGINT) AS sum_score_micro,
       CAST(sum(score_micro) AS DOUBLE) / (count(*) * 1000000.0) AS mean_score,
       CAST(sum(y) AS DOUBLE) / count(*) AS pos_rate
FROM b GROUP BY bucket
"""


def _embeddings_pq_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite: coarse cells prune the probe to an equi-join
    (n_probe=2 of 8 cells), PQ codes score candidates by LUT lookups —
    the production ANN serving shape, no cross product anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_ivf_topk(emb, queries, k=10, n_cells=8, n_probe=2)


EMBEDDINGS_PQ_IVF_TOPK_SQL = f"""
WITH {_PQ_CW_SQL},
cents AS (
    SELECT c,
           list_transform(range(0, 64), j ->
               (CAST(concat('0x', substr(md5(concat('ivf', CAST(c AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
                % 1000) / 1000.0 - 0.5) AS cv
    FROM range(0, 8) t(c)
),
sims AS (
    SELECT vec_id, c,
           list_dot_product(vv, cv) / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))) AS s
    FROM allv CROSS JOIN cents
),
rankedc AS (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
    FROM sims
),
va AS (SELECT vec_id AS neighbor_id, c AS cell FROM rankedc WHERE rn <= 1),
qa AS (SELECT vec_id AS query_id, c AS cell FROM rankedc WHERE rn <= 2 AND vec_id < 5),
qlut AS (
    SELECT q.vec_id AS query_id, w.s, w.c,
           ((list_dot_product(q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)],
                              q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)])
              - (2.0 * list_dot_product(q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)], w.cv)))
             + list_dot_product(w.cv, w.cv)) AS score
    FROM (SELECT vec_id, vv FROM allv WHERE vec_id < 5) q CROSS JOIN cw w
),
cand AS (
    SELECT qa.query_id, va.neighbor_id
    FROM qa JOIN va ON va.cell = qa.cell
    WHERE va.neighbor_id <> qa.query_id
),
pairsub AS (
    SELECT cd0.query_id, cd0.neighbor_id, l.s, l.score
    FROM cand cd0
    JOIN codes cd ON cd.vec_id = cd0.neighbor_id
    JOIN qlut l ON l.query_id = cd0.query_id AND l.s = cd.sub AND l.c = cd.code
),
adists AS (
    SELECT query_id, neighbor_id,
           (((MAX(CASE WHEN s = 0 THEN score END) + MAX(CASE WHEN s = 1 THEN score END))
              + MAX(CASE WHEN s = 2 THEN score END)) + MAX(CASE WHEN s = 3 THEN score END)) AS adist
    FROM pairsub GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adist FROM (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
    FROM adists
) WHERE rank <= 10
"""


def _embeddings_pq_ivf_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (similarity.pq_ivf_residual_topk): codes cover
    v − centroid(cell) via cell-shifted codebooks — same plan as the flat
    composite, different literals; adist approximates reconstruction
    distance ||q − (centroid + codewords)||."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_ivf_residual_topk(emb, queries, k=10, n_cells=8, n_probe=2)


EMBEDDINGS_PQ_IVF_RESIDUAL_SQL = """
WITH cw AS (
    SELECT s, c,
           list_transform(range(0, 16), j ->
               (CAST(concat('0x', substr(md5(concat('pq', CAST(s AS VARCHAR), '/', CAST(c AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
                % 1000) / 1000.0 - 0.5) AS cv
    FROM range(0, 4) ts(s), range(0, 16) tc(c)
),
cents AS (
    SELECT c,
           list_transform(range(0, 64), j ->
               (CAST(concat('0x', substr(md5(concat('ivf', CAST(c AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)
                % 1000) / 1000.0 - 0.5) AS cv
    FROM range(0, 8) t(c)
),
-- cell-shifted codebooks: codeword' = centroid_slice + codeword (residual PQ)
scw AS (
    SELECT ct.c AS cell, w.s, w.c,
           list_transform(
               list_zip(ct.cv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)], w.cv),
               x -> x[1] + x[2]) AS cv
    FROM cents ct CROSS JOIN cw w
),
allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
sims AS (
    SELECT vec_id, c,
           list_dot_product(vv, cv) / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))) AS s
    FROM allv CROSS JOIN cents
),
rankedc AS (
    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn
    FROM sims
),
va AS (SELECT vec_id AS neighbor_id, c AS cell FROM rankedc WHERE rn <= 1),
qa AS (SELECT vec_id AS query_id, c AS cell FROM rankedc WHERE rn <= 2 AND vec_id < 5),
vscored AS (
    SELECT a.vec_id, w.s, w.c,
           (list_dot_product(w.cv, w.cv)
             - (2.0 * list_dot_product(a.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)], w.cv))) AS score
    FROM allv a
    JOIN va ON va.neighbor_id = a.vec_id
    JOIN scw w ON w.cell = va.cell
),
codes AS (
    SELECT vec_id, CAST(s AS INT) AS sub, CAST(c AS INT) AS code FROM (
        SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY score, c) AS rn
        FROM vscored
    ) WHERE rn = 1
),
qlut AS (
    SELECT qa.query_id, qa.cell, w.s, w.c,
           ((list_dot_product(q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)],
                              q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)])
              - (2.0 * list_dot_product(q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)], w.cv)))
             + list_dot_product(w.cv, w.cv)) AS score
    FROM qa
    JOIN allv q ON q.vec_id = qa.query_id
    JOIN scw w ON w.cell = qa.cell
),
cand AS (
    SELECT qa.query_id, qa.cell, va.neighbor_id
    FROM qa JOIN va ON va.cell = qa.cell
    WHERE va.neighbor_id <> qa.query_id
),
pairsub AS (
    SELECT cd0.query_id, cd0.neighbor_id, l.s, l.score
    FROM cand cd0
    JOIN codes cd ON cd.vec_id = cd0.neighbor_id
    JOIN qlut l ON l.query_id = cd0.query_id AND l.cell = cd0.cell
              AND l.s = cd.sub AND l.c = cd.code
),
adists AS (
    SELECT query_id, neighbor_id,
           (((MAX(CASE WHEN s = 0 THEN score END) + MAX(CASE WHEN s = 1 THEN score END))
              + MAX(CASE WHEN s = 2 THEN score END)) + MAX(CASE WHEN s = 3 THEN score END)) AS adist
    FROM pairsub GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adist FROM (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
    FROM adists
) WHERE rank <= 10
"""


def _embeddings_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC with TRAINED codebooks: 2 exact Lloyd iterations per subspace
    (similarity.train_pq_codebooks) then the same compressed-scan ADC as
    embeddings_pq_topk — random codebooks measure recall 0.0 on this
    corpus, so training is what makes the index real. The oracle replays
    all four per-subspace k-means chains AND the ADC."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.train_pq_codebooks(emb, m=4, ksub=16, dim=64, n_iter=2)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk(emb, queries, k=10, m=4, ksub=16, codebooks=books)


def _pq_trained_chain_sql(m: int = 4, ksub: int = 16, subdim: int = 16) -> str:
    """Per-subspace 2-iteration Lloyd chains in DuckDB (the kmeans_train
    oracle pattern, seeded with the md5 PQ codewords), unioned into the
    cw(s, c, cv) codebook relation the ADC tail consumes."""
    from polars_order_book_spark.operators.similarity import pq_codeword_component

    def clit(xs):
        return "[" + ", ".join(repr(x) for x in xs) + "]"

    parts = ["vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"]
    for s in range(m):
        seeds = [
            [pq_codeword_component(s, c, j) for j in range(subdim)]
            for c in range(ksub)
        ]
        seed_nested = "[" + ", ".join(clit(c) for c in seeds) + "]"

        def dist(c):
            diff = f"list_transform(list_zip(v, {clit(c)}), x -> x[1] - x[2])"
            return f"list_dot_product({diff}, {diff})"

        dists = ",\n       ".join(dist(c) for c in seeds)
        lo, hi = s * subdim + 1, s * subdim + subdim
        parts.append(f"""vecs{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM vecs),
d1_{s} AS (SELECT vec_id, v, [{dists}] AS ds FROM vecs{s}),
a1_{s} AS (SELECT vec_id, v, CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cell FROM d1_{s}),
e1_{s} AS (SELECT cell, gs.d, v[gs.d + 1] AS x
           FROM a1_{s}, (SELECT unnest(range(0, {subdim})) AS d) gs),
c1_{s} AS (SELECT cell, d,
                  round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS centroid
           FROM e1_{s} GROUP BY cell, d),
init_{s} AS (SELECT CAST(t.c AS INT) AS cell, CAST(u.j AS INT) AS d,
                    {seed_nested}[t.c + 1][u.j + 1] AS centroid
             FROM range(0, {ksub}) t(c), range(0, {subdim}) u(j)),
c1full_{s} AS (SELECT i.cell, i.d, coalesce(c.centroid, i.centroid) AS centroid
               FROM init_{s} i LEFT JOIN c1_{s} c ON c.cell = i.cell AND c.d = i.d),
c1v_{s} AS (SELECT cell, list(centroid ORDER BY d) AS cv FROM c1full_{s} GROUP BY cell),
d2_{s} AS (SELECT n.vec_id, n.v, c.cell,
                  list_dot_product(list_transform(list_zip(n.v, c.cv), x -> x[1] - x[2]),
                                   list_transform(list_zip(n.v, c.cv), x -> x[1] - x[2])) AS dist
           FROM vecs{s} n CROSS JOIN c1v_{s} c),
a2_{s} AS (SELECT vec_id, v, cell FROM (
               SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
               FROM d2_{s}) WHERE rn = 1),
e2_{s} AS (SELECT cell, gs.d, v[gs.d + 1] AS x
           FROM a2_{s}, (SELECT unnest(range(0, {subdim})) AS d) gs),
c2_{s} AS (SELECT cell, d,
                  round(CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 6) AS centroid
           FROM e2_{s} GROUP BY cell, d),
c2full_{s} AS (SELECT f.cell, f.d, coalesce(c.centroid, f.centroid) AS centroid
               FROM c1full_{s} f LEFT JOIN c2_{s} c ON c.cell = f.cell AND c.d = f.d),
cb_{s} AS (SELECT {s} AS s, cell AS c, list(centroid ORDER BY d) AS cv
           FROM c2full_{s} GROUP BY cell)""")
    union = " UNION ALL ".join(f"SELECT * FROM cb_{s}" for s in range(m))
    parts.append(f"cw AS ({union})")
    return ",\n".join(parts)


EMBEDDINGS_PQ_TRAINED_TAIL_SQL = """
allv AS (SELECT vec_id, vv FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings)),
scored AS (
    SELECT a.vec_id, w.s, w.c,
           (list_dot_product(w.cv, w.cv)
             - (2.0 * list_dot_product(a.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)], w.cv))) AS score
    FROM allv a CROSS JOIN cw w
),
codes AS (
    SELECT vec_id, CAST(s AS INT) AS sub, CAST(c AS INT) AS code FROM (
        SELECT vec_id, s, c,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY score, c) AS rn
        FROM scored
    ) WHERE rn = 1
),
qlut AS (
    SELECT q.vec_id AS query_id, w.s, w.c,
           ((list_dot_product(q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)],
                              q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)])
              - (2.0 * list_dot_product(q.vv[CAST(w.s*16+1 AS BIGINT):CAST(w.s*16+16 AS BIGINT)], w.cv)))
             + list_dot_product(w.cv, w.cv)) AS score
    FROM (SELECT vec_id, vv FROM allv WHERE vec_id < 5) q CROSS JOIN cw w
),
pairsub AS (
    SELECT l.query_id, cd.vec_id AS neighbor_id, l.s, l.score
    FROM codes cd JOIN qlut l ON l.s = cd.sub AND l.c = cd.code
    WHERE cd.vec_id <> l.query_id
),
adists AS (
    SELECT query_id, neighbor_id,
           (((MAX(CASE WHEN s = 0 THEN score END) + MAX(CASE WHEN s = 1 THEN score END))
              + MAX(CASE WHEN s = 2 THEN score END)) + MAX(CASE WHEN s = 3 THEN score END)) AS adist
    FROM pairsub GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adist FROM (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
    FROM adists
) WHERE rank <= 10
"""


def _pq_trained_sql() -> str:
    return "WITH " + _pq_trained_chain_sql() + ",\n" + EMBEDDINGS_PQ_TRAINED_TAIL_SQL


def _ann_recall_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of trained-codebook PQ vs exact brute force — the third
    point on the eval curve (random flat, random residual, trained)."""
    return similarity.topk_recall(
        _embeddings_pq_trained(spark, sf_dir), _ann_bruteforce(spark, sf_dir)
    )


def _ann_recall_pq_trained_sql() -> str:
    return f"""
WITH approx AS ({_pq_trained_sql()}),
exact AS ({ANN_SQL}),
hits AS (
    SELECT e.query_id, count(*) AS n_hits
    FROM exact e JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
),
totals AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT t.query_id, COALESCE(h.n_hits, 0) AS n_hits, t.n_exact,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE) AS recall
FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
"""


def _ann_recall_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of RESIDUAL IVF-PQ vs exact brute force — head-to-head with
    ann_recall_pq (the flat composite): the eval pair that shows whether
    residual encoding buys recall at identical m/ksub/n_probe."""
    return similarity.topk_recall(
        _embeddings_pq_ivf_residual(spark, sf_dir), _ann_bruteforce(spark, sf_dir)
    )


ANN_RECALL_PQ_SQL = f"""
WITH approx AS ({EMBEDDINGS_PQ_IVF_TOPK_SQL}),
exact AS ({ANN_SQL}),
hits AS (
    SELECT e.query_id, count(*) AS n_hits
    FROM exact e JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
),
totals AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT t.query_id, COALESCE(h.n_hits, 0) AS n_hits, t.n_exact,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE) AS recall
FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
"""


ANN_RECALL_PQ_RESIDUAL_SQL = f"""
WITH approx AS ({EMBEDDINGS_PQ_IVF_RESIDUAL_SQL}),
exact AS ({ANN_SQL}),
hits AS (
    SELECT e.query_id, count(*) AS n_hits
    FROM exact e JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
),
totals AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT t.query_id, COALESCE(h.n_hits, 0) AS n_hits, t.n_exact,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE) AS recall
FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
"""


def _docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test labels in one map-only pass —
    membership is a pure function of doc_id (portable hash), so re-sharding
    or appending can never migrate a document across the train/eval wall."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.split_assign(
        docs, "doc_id", [0.9, 0.05, 0.05], ["train", "val", "test"]
    ).select("doc_id", "lang", "split")


def _docs_split_assign_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    b = f"{hash64_sql('CAST(doc_id AS VARCHAR)')} % 1000000"
    return f"""
SELECT doc_id, lang,
       CASE WHEN {b} < 900000 THEN 'train'
            WHEN {b} < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def _docs_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM familiarity per document (the CCNet-style LM quality signal
    in n-gram form, trained on the corpus in the same job): per adjacent
    token pair P(w2|w1) = c(w1 w2)/c(w1 .) as ONE double divide, quantized
    to integer micros and summed exactly — all-integer output."""
    return text.bigram_lm_score(load_table(spark, sf_dir, "documents"))


DOCS_LM_SCORE_SQL = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
p0 AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t), 1)),
                                 i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
    FROM toks
),
pairs AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM p0),
bc AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
cc AS (SELECT w1, sum(c2) AS c1 FROM bc GROUP BY w1),
model AS (SELECT bc.w1, bc.w2,
                 CAST(floor(CAST(bc.c2 AS DOUBLE) / CAST(cc.c1 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS m
          FROM bc JOIN cc ON bc.w1 = cc.w1)
SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(m.m) AS BIGINT) AS lm_micros
FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
GROUP BY p.doc_id
"""


def _docs_lm_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM evaluation shape: bigram model counts come ONLY from the
    deterministic train split, scores cover ONLY the val split; transitions
    unseen in training contribute 0 micros but still count in n_bigrams —
    the train/eval separation every real quality-LM pipeline needs (scoring
    with a model trained on the scored text overstates familiarity)."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = sampling.split_assign(
        docs, "doc_id", [0.9, 0.05, 0.05], ["train", "val", "test"]
    )
    return text.bigram_lm_score(
        labeled.where(F.col("split") == "val"),
        train_df=labeled.where(F.col("split") == "train"),
    )


def _docs_lm_heldout_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    b = f"{hash64_sql('CAST(doc_id AS VARCHAR)')} % 1000000"
    return f"""
WITH lab AS (
    SELECT doc_id, text,
           CASE WHEN {b} < 900000 THEN 'train'
                WHEN {b} < 950000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
ttoks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM lab WHERE split = 'train'
),
tp0 AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t), 1)),
                                 i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
    FROM ttoks
),
tpairs AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM tp0),
bc AS (SELECT w1, w2, count(*) AS c2 FROM tpairs GROUP BY w1, w2),
cc AS (SELECT w1, sum(c2) AS c1 FROM bc GROUP BY w1),
model AS (SELECT bc.w1, bc.w2,
                 CAST(floor(CAST(bc.c2 AS DOUBLE) / CAST(cc.c1 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS m
          FROM bc JOIN cc ON bc.w1 = cc.w1),
vtoks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM lab WHERE split = 'val'
),
vp0 AS (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t), 1)),
                                 i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS bg
    FROM vtoks
),
vpairs AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM vp0)
SELECT v.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(coalesce(m.m, 0)) AS BIGINT) AS lm_micros
FROM vpairs v LEFT JOIN model m ON v.w1 = m.w1 AND v.w2 = m.w2
GROUP BY v.doc_id
"""


def _docs_classifier_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-offline / serve-streaming: weights come from the batch
    2-iteration train over the full corpus; the corpus then ARRIVES as two
    micro-batches and each is scored under the frozen weights inside
    foreachBatch (streaming/classifier_stream.py). Scores are final in
    their own batch, so the union over batches must equal single-shot batch
    scoring — the documents_classifier_score oracle verifies exactly that."""
    from polars_order_book_spark.streaming.classifier_stream import (
        read_results,
        score_stream,
    )

    docs = _docs_with_weak_label(spark, sf_dir)
    w = clf.collect_weights(clf.logreg_train(docs, n_iter=2, dim=16, lr=0.5), 16)
    feed = docs.select("doc_id", "text")

    def build(tmp):
        out = os.path.join(tmp, "out")
        stream = _two_file_stream(feed, "doc_id", tmp)
        _await(score_stream(stream, w, out, os.path.join(tmp, "ckpt")))
        return read_results(spark, out)

    return _in_scratch(build)


def _embeddings_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample covariance (first 16 dims, upper triangle) — one map
    projection + one global agg reducing to a single row of DECIMAL(30,12)
    sums; the PCA fit consumes this relation (operators/linalg.py)."""
    from polars_order_book_spark.operators import linalg

    return linalg.covariance_matrix(
        load_table(spark, sf_dir, "embeddings"), dim=16
    )


def _embeddings_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph: top-5 cosine neighbors for EVERY vector from
    banded-LSH candidate pairs (32 planes / 4 bands of 8 — the every-pair-kept
    graph needs the ~1.6% random-collision rate, not near-dup's 23%),
    exact-cosine reranked, symmetrized so each collision pair serves both
    endpoints."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_graph(emb, k=5)


EMBEDDINGS_KNN_GRAPH_SQL = f"""
WITH {_bucket_sql(32)},
bands AS (
    SELECT vec_id, b AS band, substr(bucket, CAST(b * 8 + 1 AS INT), 8) AS key
    FROM buckets, range(0, 4) r(b)
),
cands AS (
    SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.vec_id < b.vec_id
),
sim AS (
    SELECT c.doc_a, c.doc_b,
           list_dot_product(va.vv, vb.vv)
             / (sqrt(list_dot_product(va.vv, va.vv)) * sqrt(list_dot_product(vb.vv, vb.vv))) AS cosine
    FROM cands c
    JOIN allv va ON va.vec_id = c.doc_a
    JOIN allv vb ON vb.vec_id = c.doc_b
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst, cosine FROM sim
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst, cosine FROM sim
)
SELECT src, dst, rank, cosine
FROM (
    SELECT src, dst,
           CAST(row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS BIGINT) AS rank,
           cosine
    FROM edges
)
WHERE rank <= 5
"""


def _embeddings_knn_graph_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEASURED scale remedy that knn_graph's pair_budget fail-fast
    names (r10 continuation, SCALE.md): 48 planes / 4 bands of 12 — a
    4096-key band space whose ~0.1% random-collision rate completes the
    full 200k-vector graph in 95 s where the 32/8 default saturates its
    256-key space at an estimated 745M candidate pairs. Registered so the
    remedy configuration is value-hash-proven end to end, not just named
    in an error message; same exact-cosine rerank and (cosine desc, dst)
    top-k as the default row."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_graph(
        emb, k=5, n_planes=48, band_size=12, pair_budget=100_000_000
    )


EMBEDDINGS_KNN_GRAPH_WIDE_SQL = f"""
WITH {_bucket_sql(48)},
bands AS (
    SELECT vec_id, b AS band, substr(bucket, CAST(b * 12 + 1 AS INT), 12) AS key
    FROM buckets, range(0, 4) r(b)
),
cands AS (
    SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.vec_id < b.vec_id
),
sim AS (
    SELECT c.doc_a, c.doc_b,
           list_dot_product(va.vv, vb.vv)
             / (sqrt(list_dot_product(va.vv, va.vv)) * sqrt(list_dot_product(vb.vv, vb.vv))) AS cosine
    FROM cands c
    JOIN allv va ON va.vec_id = c.doc_a
    JOIN allv vb ON vb.vec_id = c.doc_b
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst, cosine FROM sim
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst, cosine FROM sim
)
SELECT src, dst, rank, cosine
FROM (
    SELECT src, dst,
           CAST(row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS BIGINT) AS rank,
           cosine
    FROM edges
)
WHERE rank <= 5
"""


def _embeddings_ann_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming retrieval: query vectors (vec_id < 8) arrive across two
    micro-batches and are answered per batch against the cached corpus with
    the batch LSH operator inside foreachBatch — per-query results are final
    in the query's own batch, so the union over batches must equal the
    single-shot batch answer (the oracle)."""
    from polars_order_book_spark.streaming.similarity_stream import (
        read_results,
        topk_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def build(tmp):
        out = os.path.join(tmp, "out")
        q = topk_stream(
            _two_file_stream(queries, "query_id", tmp),
            emb,
            out,
            os.path.join(tmp, "ckpt"),
            k=5,
            n_planes=6,
        )
        _await(q)
        return read_results(spark, out)

    return _in_scratch(build)


def _text_dup_span_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged cross-document duplicated-span token intervals (the removal
    half of Lee et al. 2022 exact-substring dedup, next to text_dup_spans'
    measurement half). All-integer output."""
    return text.dup_span_cuts(load_table(spark, sf_dir, "documents"), k=10)


TEXT_DUP_SPAN_CUTS_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
grams AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           CAST(concat('0x', substr(md5({_gram10('t')}), 1, 15)) AS BIGINT) AS h
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 10 AND i <= len(t) - 10
),
shared AS (SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) > 1),
dup AS (SELECT doc_id, pos FROM grams JOIN shared USING (h)),
marked AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL
                     OR pos - lag(pos) OVER w > 10 THEN 1 ELSE 0 END AS brk
    FROM dup
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
segs AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS seg
    FROM marked
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS start_tok,
       CAST(max(pos) + 10 AS BIGINT) AS end_tok_excl,
       count(*) AS n_windows
FROM segs
GROUP BY doc_id, seg
"""


def _text_apply_span_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup APPLIED: every document rewritten with its
    cross-document duplicated 10-token spans removed (union of
    text_dup_span_cuts' intervals); fully-duplicated docs come back empty
    rather than vanishing."""
    return text.apply_span_cuts(load_table(spark, sf_dir, "documents"), k=10)


TEXT_APPLY_SPAN_CUTS_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
grams AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           CAST(concat('0x', substr(md5({_gram10('t')}), 1, 15)) AS BIGINT) AS h
    FROM toks, range(0, 4096) r(i)
    WHERE len(t) >= 10 AND i <= len(t) - 10
),
shared AS (SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) > 1),
dup AS (SELECT doc_id, pos FROM grams JOIN shared USING (h)),
covered AS (
    SELECT DISTINCT doc_id, pos + o AS pos FROM dup, range(0, 10) r(o)
),
tokpos AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos, t[CAST(i + 1 AS INT)] AS tok
    FROM toks, range(0, 8192) r(i)
    WHERE i < len(t)
),
kept AS (SELECT * FROM tokpos ANTI JOIN covered USING (doc_id, pos)),
rebuilt AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           count(*) AS n_kept
    FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       coalesce(rebuilt.clean_text, '') AS clean_text,
       CAST(len(toks.t) AS BIGINT) AS n_tokens,
       CAST(len(toks.t) - coalesce(rebuilt.n_kept, 0) AS BIGINT) AS n_removed
FROM toks LEFT JOIN rebuilt USING (doc_id)
"""


def _docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights of every document toward the English subset:
    hashed unigram+bigram bucket distributions (4096 buckets), per-bucket
    add-1 rational importance ratio in exact integer-factor doubles,
    micros-quantized and integer-summed per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.dsir_weights(docs, docs.where(F.col("lang") == "en"))


DOCS_DSIR_WEIGHTS_SQL = """
WITH toks AS (
    SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
feats AS (
    SELECT doc_id, lang,
           unnest(list_concat(
               t,
               list_transform(range(1, greatest(len(t), 1)),
                              i -> concat(t[i], ' ', t[i + 1]))
           )) AS f
    FROM toks
),
bf AS (
    SELECT doc_id, lang,
           CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 4096 AS b
    FROM feats
),
rc AS (SELECT b, count(*) AS r_b FROM bf GROUP BY b),
tc AS (SELECT b, count(*) AS t_b FROM bf WHERE lang = 'en' GROUP BY b),
totals AS (
    SELECT (SELECT count(*) FROM bf) AS R,
           (SELECT count(*) FROM bf WHERE lang = 'en') AS T
),
model AS (
    SELECT rc.b,
           CAST(floor(
               (CAST(coalesce(tc.t_b, 0) + 1 AS DOUBLE) * CAST(totals.R + 4096 AS DOUBLE))
               / (CAST(rc.r_b + 1 AS DOUBLE) * CAST(totals.T + 4096 AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS m
    FROM rc LEFT JOIN tc ON rc.b = tc.b, totals
)
SELECT bf.doc_id, count(*) AS n_features, CAST(sum(model.m) AS BIGINT) AS dsir_micros
FROM bf JOIN model ON bf.b = model.b
GROUP BY bf.doc_id
"""


EMBEDDINGS_ANN_STREAM_SQL = f"""
WITH {_bucket_sql(6)},
v AS (SELECT b.vec_id AS neighbor_id, a.vv, b.bucket
      FROM buckets b JOIN allv a ON a.vec_id = b.vec_id),
q AS (SELECT b.vec_id AS query_id, a.vv AS qv, b.bucket
      FROM buckets b JOIN allv a ON a.vec_id = b.vec_id
      WHERE b.vec_id < 8),
sim AS (
    SELECT q.query_id, v.neighbor_id,
           list_dot_product(qv, vv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cosine
    FROM v JOIN q ON v.bucket = q.bucket
    WHERE v.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM sim
)
WHERE rank <= 5
"""


def _events_countmin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch rollup (operators/frequency.py): per-hour 4×512
    sketches of user_id built with portable hashes, MERGED by cell-wise sum
    (linearity makes the merged sketch exactly the flat one — pinned by
    pytest), then point-estimated for a deterministic probe set
    (user_id % 7 = 0) against exact counts. The oracle replicates every
    counter bit-for-bit, so est_n/overcount are hash-checked, not just
    bounded. At 100 TB: the build shuffles ≤ tasks·4·512 cell rows (bounded,
    skew-immune), the merge collapses segments, the probe broadcasts the
    ≤ 2048-row sketch."""
    from polars_order_book_spark.operators.frequency import (
        countmin_build,
        countmin_estimate,
        countmin_merge,
    )

    ev = load_table(spark, sf_dir, "events")
    seg = ev.withColumn("__hour", F.date_trunc("hour", F.col("ts")))
    sketch = countmin_merge(
        countmin_build(seg, "user_id", depth=4, width=512, segment_cols=["__hour"])
    )
    probe_rows = ev.where(
        F.col("user_id").isNotNull() & (F.col("user_id") % 7 == 0)
    )
    est = countmin_estimate(
        sketch, probe_rows.select("user_id").distinct(), "user_id", depth=4, width=512
    )
    exact = probe_rows.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    return est.join(exact, "user_id").select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


_CM_CELL_SQL = (
    "CAST(concat('0x', substr(md5(concat(CAST({i} AS VARCHAR), ':', "
    "CAST({key} AS VARCHAR))), 1, 15)) AS BIGINT) % {mod}"
)

EVENTS_COUNTMIN_SQL = f"""
WITH nn AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
d AS (SELECT CAST(r.i AS INT) AS i FROM range(0, 4) r(i)),
cells AS (
    SELECT d.i AS row, {_CM_CELL_SQL.format(i='d.i', key='nn.user_id', mod=512)} AS cell,
           count(*) AS n
    FROM nn CROSS JOIN d
    GROUP BY 1, 2
),
probe AS (SELECT DISTINCT user_id FROM nn WHERE user_id % 7 = 0),
pc AS (
    SELECT p.user_id, d.i, {_CM_CELL_SQL.format(i='d.i', key='p.user_id', mod=512)} AS cell
    FROM probe p CROSS JOIN d
),
est AS (
    SELECT pc.user_id, min(COALESCE(c.n, 0)) AS est_n
    FROM pc LEFT JOIN cells c ON c.row = pc.i AND c.cell = pc.cell
    GROUP BY pc.user_id
),
exact AS (
    SELECT user_id, count(*) AS exact_n FROM nn WHERE user_id % 7 = 0 GROUP BY user_id
)
SELECT est.user_id, exact.exact_n, CAST(est.est_n AS BIGINT) AS est_n,
       CAST(est.est_n - exact.exact_n AS BIGINT) AS overcount
FROM est JOIN exact USING (user_id)
"""


def _orders_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime-filter audit (operators/membership.py): build a
    16384-bit / 5-hash filter over URGENT order keys, probe every lineitem
    row with 5 broadcast bit-joins (map-only on the probe side — the
    pre-shuffle semi-join pruning pattern Spark's own runtime filters apply
    internally, rendered portably), and count bloom passes vs the exact
    semi-join per linestatus. bits=16384 is sized to leave a measurable
    false-positive rate at this SF so n_false_pos exercises a nonzero path;
    no-false-negative is the pinned invariant."""
    from polars_order_book_spark.operators.membership import bloom_probe_stats

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return bloom_probe_stats(
        lineitem,
        "l_orderkey",
        urgent,
        "o_orderkey",
        ["l_linestatus"],
        bits=16384,
        k=5,
    )


# Kirsch-Mitzenmacher double hashing, mirroring operators/membership.py:
# bit_i = (h1 + i*h2) mod bits with h1/h2 = 48-bit halves of ONE md5 digest
_BLOOM_BIT_SQL = (
    "((CAST(concat('0x', substr(md5(CAST({key} AS VARCHAR)), 1, 12)) AS BIGINT)"
    " + {i} * CAST(concat('0x', substr(md5(CAST({key} AS VARCHAR)), 13, 12)) AS BIGINT))"
    " % {mod})"
)

ORDERS_BLOOM_SEMIJOIN_SQL = f"""
WITH urgent AS (
    SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
d AS (SELECT CAST(r.i AS INT) AS i FROM range(0, 5) r(i)),
bits AS (
    SELECT DISTINCT {_BLOOM_BIT_SQL.format(i='d.i', key='u.o_orderkey', mod=16384)} AS bit
    FROM urgent u CROSS JOIN d
),
pk AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL),
hits AS (
    SELECT pk.l_orderkey, count(*) AS nhit
    FROM pk CROSS JOIN d
    JOIN bits b
      ON b.bit = {_BLOOM_BIT_SQL.format(i='d.i', key='pk.l_orderkey', mod=16384)}
    GROUP BY pk.l_orderkey
),
pass AS (SELECT l_orderkey FROM hits WHERE nhit = 5)
SELECT l.l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN p.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_pass,
       CAST(sum(CASE WHEN u.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_match,
       CAST(sum(CASE WHEN p.l_orderkey IS NOT NULL THEN 1 ELSE 0 END)
            - sum(CASE WHEN u.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_pos
FROM lineitem l
LEFT JOIN pass p ON p.l_orderkey = l.l_orderkey
LEFT JOIN urgent u ON u.o_orderkey = l.l_orderkey
GROUP BY l.l_linestatus
"""


def _documents_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage signal (operators/text.py oov_rate): per-document
    out-of-vocabulary rate against the corpus' top-16 tokens by document
    frequency (ties → token asc, a total portable order; 16 < the synthetic
    corpus' 31-word vocabulary precisely so the OOV path is non-trivially
    exercised). Vocab is a 16-row broadcast; the per-doc pass is map-only
    join + one groupBy(doc). All-integer counts; one final double division."""
    from polars_order_book_spark.operators.text import oov_rate

    return oov_rate(load_table(spark, sf_dir, "documents"), vocab_size=16)


DOCUMENTS_OOV_RATE_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
vocab AS (SELECT token FROM dfreq ORDER BY df DESC, token LIMIT 16)
SELECT tok.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS oov_rate
FROM tok LEFT JOIN vocab v USING (token)
GROUP BY tok.doc_id
"""


def _text_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index with capped posting lists (operators/text.py
    inverted_index): per token, exact doc_freq / total_tf plus the first 8
    doc ids ascending as a comma-joined head. The cap bounds stop-word rows
    (the skew bomb of full posting lists at 100 TB); the (doc, token)
    pre-agg collapses repeats before the token shuffle; collect_list's
    nondeterministic order is neutralized by array_sort before slicing."""
    from polars_order_book_spark.operators.text import inverted_index

    return inverted_index(load_table(spark, sf_dir, "documents"), max_postings=8)


TEXT_POSTINGS_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
),
per AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY token, doc_id),
r AS (
    SELECT token, doc_id, tf,
           row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
    FROM per
)
SELECT token,
       count(*) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       COALESCE(string_agg(CASE WHEN rn <= 8 THEN CAST(doc_id AS VARCHAR) END,
                           ',' ORDER BY doc_id), '') AS postings_head
FROM r
GROUP BY token
"""


def _events_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative co-occurrence (operators/recsys.py): distinct
    (user, item) interactions from the props item id, per-user lists capped
    to the top-20 by (interaction count desc, item asc) BEFORE pairing —
    the Amazon item-to-item truncation that bounds pair generation to
    O(users · cap²) under any skew — then pair counts with EXACT uncapped
    popularity normalization. cosine/jaccard are single IEEE ops over exact
    longs (sqrt and / are correctly rounded — no libm), so every value
    hash-checks against the oracle."""
    from polars_order_book_spark.operators.recsys import item_cooccurrence

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("item"),
    )
    return item_cooccurrence(
        items, user_col="user_id", item_col="item", per_user_cap=20, min_pair_count=3
    )


EVENTS_ITEM_COOC_SQL = """
WITH inter AS (
  SELECT user_id AS usr, CAST(json_extract_string(props,'$.k') AS BIGINT) AS item,
         count(*) AS n_inter
  FROM events
  WHERE user_id IS NOT NULL AND json_extract_string(props,'$.k') IS NOT NULL
  GROUP BY 1,2
),
pop AS (SELECT item, count(*) AS n_users FROM inter GROUP BY item),
capped AS (
  SELECT usr, item FROM (
    SELECT usr, item,
           row_number() OVER (PARTITION BY usr ORDER BY n_inter DESC, item ASC) AS r
    FROM inter) t WHERE r <= 20
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
  FROM capped a JOIN capped b ON a.usr = b.usr AND a.item < b.item
  GROUP BY 1,2 HAVING count(*) >= 3
)
SELECT p.item_a, p.item_b, p.n_ab, pa.n_users AS n_a, pb.n_users AS n_b,
       CAST(p.n_ab AS DOUBLE)/sqrt(CAST(pa.n_users AS DOUBLE)*CAST(pb.n_users AS DOUBLE)) AS cosine,
       CAST(p.n_ab AS DOUBLE)/(CAST(pa.n_users AS DOUBLE)+CAST(pb.n_users AS DOUBLE)-CAST(p.n_ab AS DOUBLE)) AS jaccard
FROM pairs p
JOIN pop pa ON pa.item = p.item_a
JOIN pop pb ON pb.item = p.item_b
"""


def _events_top_similar_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item top-5 neighbor lists from the co-occurrence table
    (operators/recsys.py top_similar_items): symmetrize the unordered pairs
    and keep each item's best 5 by (cosine desc, neighbor asc). The window
    runs over the item²-bounded pair table, never event-sized data."""
    from polars_order_book_spark.operators.recsys import (
        item_cooccurrence,
        top_similar_items,
    )

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("item"),
    )
    cooc = item_cooccurrence(
        items, user_col="user_id", item_col="item", per_user_cap=20, min_pair_count=3
    )
    return top_similar_items(cooc, k=5, metric="cosine")


EVENTS_TOP_SIMILAR_SQL = """
WITH inter AS (
  SELECT user_id AS usr, CAST(json_extract_string(props,'$.k') AS BIGINT) AS item,
         count(*) AS n_inter
  FROM events
  WHERE user_id IS NOT NULL AND json_extract_string(props,'$.k') IS NOT NULL
  GROUP BY 1,2
),
pop AS (SELECT item, count(*) AS n_users FROM inter GROUP BY item),
capped AS (
  SELECT usr, item FROM (
    SELECT usr, item,
           row_number() OVER (PARTITION BY usr ORDER BY n_inter DESC, item ASC) AS r
    FROM inter) t WHERE r <= 20
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
  FROM capped a JOIN capped b ON a.usr = b.usr AND a.item < b.item
  GROUP BY 1,2 HAVING count(*) >= 3
),
scored AS (
  SELECT p.item_a, p.item_b,
         CAST(p.n_ab AS DOUBLE)/sqrt(CAST(pa.n_users AS DOUBLE)*CAST(pb.n_users AS DOUBLE)) AS cosine
  FROM pairs p
  JOIN pop pa ON pa.item = p.item_a
  JOIN pop pb ON pb.item = p.item_b
),
sym AS (
  SELECT item_a AS item, item_b AS neighbor, cosine FROM scored
  UNION ALL
  SELECT item_b AS item, item_a AS neighbor, cosine FROM scored
)
SELECT item, neighbor, rank, cosine FROM (
  SELECT item, neighbor, cosine,
         row_number() OVER (PARTITION BY item ORDER BY cosine DESC, neighbor ASC) AS rank
  FROM sym) t
WHERE rank <= 5
"""


def _orders_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py): the
    per-customer rollup of pre-cutoff orders is folded together with the
    post-cutoff delta batch WITHOUT rescanning base facts — count/sum add,
    max takes greatest, exact decimal sums keep the fold order-independent.
    The oracle is a FULL recompute over all orders: the incremental result
    must be bit-identical, which is precisely the self-maintainability
    contract (Blakeley et al., SIGMOD 1986). At 100 TB the combine joins
    rollup-sized relations only; a small delta side broadcasts."""
    from polars_order_book_spark.operators.incremental import incremental_agg

    orders = load_table(spark, sf_dir, "orders")
    cut = "1995-07-01"
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    base_agg = (
        orders.where(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec).alias("sum_total"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    merged = incremental_agg(
        base_agg,
        orders.where(F.col("o_orderdate") >= cut),
        ["o_custkey"],
        count_col="n_orders",
        sum_exprs={"sum_total": F.sum(dec)},
        max_exprs={"last_order": F.max("o_orderdate")},
    )
    return merged.select(
        "o_custkey",
        "n_orders",
        F.col("sum_total").cast("double").alias("sum_total"),
        F.unix_micros(F.col("last_order")).alias("last_order_us"),
    )


ORDERS_INCREMENTAL_AGG_SQL = """
SELECT o_custkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
       epoch_us(max(o_orderdate)) AS last_order_us
FROM orders GROUP BY o_custkey
"""


def _orders_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (operators/incremental.py
    join_delta + incremental_join_agg): the per-(segment, priority) rollup of
    orders ⨝ customer is maintained under insert deltas on BOTH sides via the
    distributive delta algebra ΔR⨝S ∪ R⨝ΔS ∪ ΔR⨝ΔS — the base x base join
    never recomputes. Deltas here are deterministic mod-slices of each table
    (orders keys = 0 mod 8, customers = 0 mod 16) so the cross terms are all
    non-empty and every algebra branch is exercised. The oracle is a FULL
    recompute over the complete join — the incremental result must be
    bit-identical (exact decimal sums make the fold order-independent). At
    100 TB the three delta joins are day-sized against the base, and the
    final combine joins rollup-sized relations only."""
    from polars_order_book_spark.operators.incremental import incremental_join_agg

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base_o = orders.where(F.col("o_orderkey") % 8 != 0)
    delta_o = orders.where(F.col("o_orderkey") % 8 == 0)
    base_c = customer.where(F.col("c_custkey") % 16 != 0)
    delta_c = customer.where(F.col("c_custkey") % 16 == 0)
    on = F.col("o_custkey") == F.col("c_custkey")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    keys = ["c_mktsegment", "o_orderpriority"]
    base_view = (
        base_o.join(base_c, on, "inner")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dec).alias("sum_total"),
            F.min(dec).alias("min_total"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    merged = incremental_join_agg(
        base_view,
        base_o,
        delta_o,
        base_c,
        delta_c,
        on,
        keys,
        count_col="n_rows",
        sum_exprs={"sum_total": F.sum(dec)},
        min_exprs={"min_total": F.min(dec)},
        max_exprs={"last_order": F.max("o_orderdate")},
    )
    return merged.select(
        "c_mktsegment",
        "o_orderpriority",
        "n_rows",
        F.col("sum_total").cast("double").alias("sum_total"),
        F.col("min_total").cast("double").alias("min_total"),
        F.unix_micros(F.col("last_order")).alias("last_order_us"),
    )


ORDERS_INCREMENTAL_JOIN_SQL = """
SELECT c_mktsegment, o_orderpriority, count(*) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
       CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_total,
       epoch_us(max(o_orderdate)) AS last_order_us
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority
"""


def _orders_retraction_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-dual of incremental maintenance (operators/incremental.py
    retract_agg): the per-customer additive rollup over ALL orders has the
    mod-10 slice of orders RETRACTED from it — one deletion-sized agg + one
    rollup-sized left join, base facts never rescanned. Customers whose
    every order is deleted drop from the rollup entirely (the GDPR
    forgotten-user path — exercised: single-order customers exist in the
    slice). min/max are deliberately refused by the operator (not
    self-maintainable under deletes). Oracle = recompute over the
    complement; results must be bit-identical."""
    from polars_order_book_spark.operators.incremental import retract_agg

    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    base_agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec).alias("sum_total"),
    )
    deleted = orders.where(F.col("o_orderkey") % 10 == 0)
    out = retract_agg(
        base_agg,
        deleted,
        ["o_custkey"],
        count_col="n_orders",
        sum_exprs={"sum_total": F.sum(dec)},
    )
    return out.select(
        "o_custkey",
        "n_orders",
        F.col("sum_total").cast("double").alias("sum_total"),
    )


ORDERS_RETRACTION_AGG_SQL = """
SELECT o_custkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
FROM orders
WHERE o_orderkey % 10 <> 0
GROUP BY o_custkey
"""


def _events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog rollup (operators/frequency.py hll_build/
    hll_union, datasketches-backed Spark 3.5+ surface): one binary sketch
    per day, global distinct answered by UNIONING the stored sketch bytes —
    never rescanning raw events. That store-then-union move is what makes
    distinct-count rollups reusable at 100 TB (persist (day, sketch) rows;
    any later week/month/segment union is a tiny agg). Estimates are checked
    within 3·rsd≈6% of the exact count (the events_user_distinct_approx
    convention) so the output hash-checks; the sketch column itself stays
    internal."""
    from polars_order_book_spark.operators.frequency import hll_build, hll_union

    ev = load_table(spark, sf_dir, "events")
    day_users = ev.select(F.to_date("ts").alias("day"), "user_id")
    sk = hll_build(day_users, "user_id", segment_cols=["day"]).localCheckpoint(
        eager=False
    )
    exact_day = day_users.groupBy("day").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    tol = lambda: F.lit(0.06) * F.col("n_users")  # noqa: E731
    per_day = sk.join(exact_day, on="day").select(
        F.col("day").cast("string").alias("scope"),
        "n_users",
        (F.abs(F.col("est") - F.col("n_users")) <= tol()).alias("approx_in_tol"),
    )
    glob = (
        hll_union(sk)
        .crossJoin(
            F.broadcast(day_users.agg(F.count_distinct("user_id").alias("n_users")))
        )
        .select(
            F.lit("__total__").alias("scope"),
            "n_users",
            (F.abs(F.col("est") - F.col("n_users")) <= tol()).alias("approx_in_tol"),
        )
    )
    return per_day.unionByName(glob)


EVENTS_HLL_ROLLUP_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope,
       count(DISTINCT user_id) AS n_users, TRUE AS approx_in_tol
FROM events GROUP BY 1
UNION ALL
SELECT '__total__', count(DISTINCT user_id), TRUE FROM events
"""


def _events_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup (operators/frequency.py value_histogram /
    histogram_merge / histogram_quantiles) — the quantile member of the
    stored-sketch family (HLL = distinct, count-min = item counts): per
    (event_type, day) fixed-bin cells are built once (one cells-sized
    shuffle with map-side partial agg), then any window's quantiles come
    from merging the STORED cells — never rescanning raw events. p50/p90/p99
    per type with ranks in pure integer DIV (no float ceil, the r5
    heavy-hitters advice) and bin edges in engine-identical IEEE doubles;
    error bounded by one bin width by construction. At 100 TB the persisted
    cells relation is (types x days x <=50) rows — the week/month/segment
    re-aggregation is a laptop-sized job."""
    from polars_order_book_spark.operators.frequency import (
        histogram_merge,
        histogram_quantiles,
        value_histogram,
    )

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    cells = value_histogram(
        ev, "value", ["event_type", "day"], lo=0.0, hi=500.0, n_bins=50
    )
    merged = histogram_merge(cells, ["event_type"])
    return histogram_quantiles(
        merged, ["event_type"], [(1, 2), (9, 10), (99, 100)],
        lo=0.0, hi=500.0, n_bins=50,
    )


EVENTS_QUANTILE_HISTOGRAM_SQL = """
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(least(greatest(floor((CAST(value AS DOUBLE) - 0.0) / 500.0 * 50.0), 0), 49) AS BIGINT) AS bin,
         count(*) AS n
  FROM events
  WHERE CAST(value AS DOUBLE) IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
  GROUP BY 1,2,3
),
merged AS (SELECT event_type, bin, sum(n) AS n FROM cells GROUP BY 1,2),
cum AS (
  SELECT event_type, bin,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS n_total
  FROM merged
),
ex AS (SELECT c.*, t.num, t.den
       FROM cum c CROSS JOIN (VALUES (1,2),(9,10),(99,100)) AS t(num, den)),
q AS (
  SELECT event_type, num, den,
         min(CASE WHEN cum >= (num*n_total + den - 1) // den THEN bin END) AS qbin,
         max(n_total) AS n_total
  FROM ex GROUP BY 1,2,3
)
SELECT event_type,
       CAST(num AS DOUBLE)/CAST(den AS DOUBLE) AS prob,
       0.0 + (qbin + 1) * (500.0 / 50.0) AS est,
       CAST(n_total AS BIGINT) AS n_total
FROM q
"""


def _documents_token_weighted_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-WEIGHTED doc-length quantiles (operators/frequency.py
    value_histogram with weight_col + histogram_merge + histogram_quantiles):
    per-(lang, source) cells sum token counts per length bin, merge to
    per-lang, and the p50/p90 answer "at what document length do the TOKENS
    concentrate" — the tokenizer-budget/packing question an unweighted doc
    quantile gets wrong (many short docs ≠ many tokens). Integer weights
    keep rank arithmetic exact; the chain is events_quantile_histogram's
    with sum(weight) in place of count."""
    from polars_order_book_spark.operators.frequency import (
        histogram_merge,
        histogram_quantiles,
        value_histogram,
    )
    from polars_order_book_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__w", token_count(F.col("text")).cast("long")
    )
    cells = value_histogram(
        docs, "n_chars", ["lang", "source"],
        lo=0.0, hi=600.0, n_bins=30, weight_col="__w",
    )
    merged = histogram_merge(cells, ["lang"])
    return histogram_quantiles(
        merged, ["lang"], [(1, 2), (9, 10)], lo=0.0, hi=600.0, n_bins=30
    )


DOCUMENTS_TOKEN_WEIGHTED_LENGTH_SQL = """
WITH w AS (
  SELECT lang, source, n_chars,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS wt
  FROM documents
  WHERE CAST(n_chars AS DOUBLE) IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
),
cells AS (
  SELECT lang, source,
         CAST(least(greatest(floor((CAST(n_chars AS DOUBLE) - 0.0) / 600.0 * 30.0), 0), 29) AS BIGINT) AS bin,
         sum(wt) AS n
  FROM w WHERE wt IS NOT NULL
  GROUP BY 1,2,3
),
merged AS (SELECT lang, bin, sum(n) AS n FROM cells GROUP BY 1,2),
cum AS (
  SELECT lang, bin,
         sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
         sum(n) OVER (PARTITION BY lang) AS n_total
  FROM merged
),
ex AS (SELECT c.*, t.num, t.den
       FROM cum c CROSS JOIN (VALUES (1,2),(9,10)) AS t(num, den)),
q AS (
  SELECT lang, num, den,
         min(CASE WHEN cum >= (num*n_total + den - 1) // den THEN bin END) AS qbin,
         max(n_total) AS n_total
  FROM ex GROUP BY 1,2,3
)
SELECT lang,
       CAST(num AS DOUBLE)/CAST(den AS DOUBLE) AS prob,
       0.0 + (qbin + 1) * (600.0 / 30.0) AS est,
       CAST(n_total AS BIGINT) AS n_total
FROM q
"""


def _events_quantiles_exact_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quantiles without a global sort (operators/frequency.py
    exact_quantile_two_pass): pass 1 is the value_histogram cells build
    (<= n_bins-row shuffle), the driver walks the bounded cumulative counts
    to the target bin + residual rank (integer DIV), pass 2 takes the
    residual-rank-th smallest within the one target bin via orderBy+limit
    (TakeOrderedAndProject). Exactness holds for ANY declared (lo, hi)
    because clamped binning is monotone in the value — a bad range only
    unbalances bins. The oracle is the brutal row_number definition over the
    full relation; results must agree to the bit. At 100 TB this replaces a
    full-relation sort with two scans + a rank-bounded top-k."""
    from polars_order_book_spark.operators.frequency import exact_quantile_two_pass

    ev = load_table(spark, sf_dir, "events")
    res = exact_quantile_two_pass(
        ev, "value", [(1, 2), (9, 10), (99, 100)], lo=0.0, hi=500.0, n_bins=64
    )
    return spark.createDataFrame(res, "prob double, value double, n_total long")


EVENTS_QUANTILES_TWOPASS_SQL = """
WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
n AS (SELECT count(*) AS n_total FROM v),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
pr AS (SELECT * FROM (VALUES (1,2),(9,10),(99,100)) t(num, den))
SELECT CAST(pr.num AS DOUBLE)/CAST(pr.den AS DOUBLE) AS prob,
       min(r.v) AS value,
       CAST(max(n.n_total) AS BIGINT) AS n_total
FROM pr CROSS JOIN n JOIN r ON r.rn = (pr.num * n.n_total + pr.den - 1) // pr.den
GROUP BY pr.num, pr.den
"""


def _events_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size / skew audit (functions/skew.py join_size_estimate): the
    exact cardinality of events ⋈ events on user_id — Σ n_u², the second
    frequency moment — computed from per-key COUNTS (rollup-sized join),
    never by running the row-level join. Top-10 heaviest users + a total
    row tell you whether the join needs salting BEFORE you pay for it; at
    100 TB this audit is two aggregations and a distinct-key-sized join.
    All three measures are decimal(38,0) in the operator (BIGINT overflows
    first at audit scale); cast to long here for the cross-engine hash at
    test scale."""
    from polars_order_book_spark.functions.skew import join_size_estimate

    ev = load_table(spark, sf_dir, "events")
    est = join_size_estimate(ev, ev, ["user_id"], top_k=10)
    return est.select(
        "key",
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        F.col("join_rows").cast("long").alias("join_rows"),
    )


EVENTS_SELFJOIN_SIZE_SQL = """
WITH c AS (
  SELECT user_id, count(*) AS n FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
),
cells AS (
  SELECT CAST(user_id AS VARCHAR) AS key, n AS n_left, n AS n_right,
         n * n AS join_rows
  FROM c
),
top AS (
  SELECT key, n_left, n_right, join_rows FROM cells
  ORDER BY join_rows DESC, key LIMIT 10
)
SELECT key, CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       CAST(join_rows AS BIGINT) AS join_rows
FROM top
UNION ALL
SELECT '__total__', CAST(sum(n_left) AS BIGINT), CAST(sum(n_right) AS BIGINT),
       CAST(sum(join_rows) AS BIGINT)
FROM cells
"""


def _events_quantiles_exact_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quantiles fully in-plan (operators/frequency.py
    grouped_exact_quantiles): per-key histogram cells → window cumulative +
    struct-min derive each (key, prob)'s target bin AND residual rank
    relationally — no driver bin-walk, so key cardinality is unbounded —
    then one join back on (key, target bin) and a bin-bounded window picks
    the residual-th smallest value. Integer-DIV ranks; clamped binning
    keeps any declared range exact. The oracle is the per-key row_number
    rank definition over the full relation; values must agree to the bit.
    At 100 TB this replaces a per-key full sort with histogram aggs + a
    ~N/n_bins-row-per-task selection."""
    from polars_order_book_spark.operators.frequency import grouped_exact_quantiles

    ev = load_table(spark, sf_dir, "events")
    return grouped_exact_quantiles(
        ev, "value", ["event_type"], [(1, 2), (9, 10)], lo=0.0, hi=500.0, n_bins=64
    )


EVENTS_QUANTILES_BY_TYPE_SQL = """
WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             AND event_type IS NOT NULL),
r AS (SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_total
      FROM v),
pr AS (SELECT * FROM (VALUES (1,2),(9,10)) t(num, den))
SELECT r.event_type, CAST(pr.num AS DOUBLE)/CAST(pr.den AS DOUBLE) AS prob,
       min(r.v) AS value, CAST(max(r.n_total) AS BIGINT) AS n_total
FROM pr JOIN r ON r.rn = (pr.num * r.n_total + pr.den - 1) // pr.den
GROUP BY r.event_type, pr.num, pr.den
"""


def _documents_pmi_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinctive vocabulary via PMI (operators/text.py
    pmi_keywords): rank tokens by p(tok|lang)/p(tok) — log-free so every
    value is portable (two exact decimal(19,0) products, one double
    division; log is monotone so the ranking IS the PMI ranking). min_count
    floors the rare-token PMI explosion. Explode + two vocab-sized groupBys
    + a vocab-sized window — never corpus-sized state."""
    from polars_order_book_spark.operators.text import pmi_keywords

    return pmi_keywords(
        load_table(spark, sf_dir, "documents"), by="lang", top_k=10, min_count=3
    )


DOCUMENTS_PMI_SQL = """
WITH tok AS (
  SELECT lang AS segment, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
),
cst AS (SELECT segment, token, count(*) AS n_seg_tok FROM tok GROUP BY 1,2),
ct  AS (SELECT token, count(*) AS n_tok FROM tok GROUP BY 1),
ns  AS (SELECT segment, count(*) AS n_seg FROM tok GROUP BY 1),
n   AS (SELECT count(*) AS n_total FROM tok),
scored AS (
  SELECT cst.segment, cst.token, cst.n_seg_tok, ct.n_tok,
         CAST(CAST(cst.n_seg_tok AS DECIMAL(19,0)) * CAST(n.n_total AS DECIMAL(19,0)) AS DOUBLE)
         / CAST(CAST(ns.n_seg AS DECIMAL(19,0)) * CAST(ct.n_tok AS DECIMAL(19,0)) AS DOUBLE) AS pmi_ratio
  FROM cst JOIN ct USING (token) JOIN ns USING (segment) CROSS JOIN n
  WHERE cst.n_seg_tok >= 3
)
SELECT segment, token, n_seg_tok, n_tok, pmi_ratio, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY segment ORDER BY pmi_ratio DESC, token ASC) AS rank
  FROM scored) t
WHERE rank <= 10
"""


def _documents_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency health profile (operators/text.py zipf_profile):
    per language, token mass per power-of-two rank bucket — equal mass per
    doubling bucket ⇔ ideal Zipf; head-heavy = boilerplate dup, tail-heavy
    = tokenizer junk. Exact integers only (the bucket map is a constant
    CASE chain, no libm log); any slope fit happens client-side over these
    21 rows."""
    from polars_order_book_spark.operators.text import zipf_profile

    return zipf_profile(load_table(spark, sf_dir, "documents"), by="lang")


_ZIPF_CASE = (
    "CASE "
    + " ".join(f"WHEN rank < {2 ** (b + 1)} THEN {b}" for b in range(20))
    + " ELSE 20 END"
)

DOCUMENTS_ZIPF_SQL = f"""
WITH tok AS (
  SELECT lang AS segment, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
),
counts AS (SELECT segment, token, count(*) AS n FROM tok GROUP BY 1,2),
ranked AS (
  SELECT segment, n,
         row_number() OVER (PARTITION BY segment ORDER BY n DESC, token ASC) AS rank
  FROM counts
)
SELECT segment, CAST({_ZIPF_CASE} AS BIGINT) AS bucket,
       count(*) AS n_tokens, CAST(sum(n) AS BIGINT) AS mass
FROM ranked GROUP BY 1, 2
"""


def _orders_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rollup maintenance (streaming/agg_stream.py): the
    per-customer rollup is seeded from pre-cutoff orders, then post-cutoff
    facts arrive as two micro-batches folded in via foreachBatch +
    combine_aggregates ("+= delta" per batch; the _CURRENT-marker replay
    guard is load-bearing because addition is NOT idempotent — pinned by
    pytest). Additive combines are associative/commutative over exact
    decimal sums, so the final table equals the full recompute however the
    stream was batched — which is exactly the oracle (shared with
    orders_incremental_agg)."""
    from polars_order_book_spark.streaming.agg_stream import (
        init_table,
        maintain_rollup_stream,
        read_current,
    )

    orders = load_table(spark, sf_dir, "orders")
    cut = "1995-07-01"
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    base_agg = (
        orders.where(F.col("o_orderdate") < cut)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec).alias("sum_total"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    delta = orders.where(F.col("o_orderdate") >= cut)

    def build(tmp):
        tbl = os.path.join(tmp, "table")
        init_table(base_agg, tbl)
        q = maintain_rollup_stream(
            _two_file_stream(delta, "o_orderkey", tmp),
            tbl,
            ["o_custkey"],
            count_col="n_orders",
            sum_exprs={"sum_total": F.sum(dec)},
            max_exprs={"last_order": F.max("o_orderdate")},
            checkpoint=os.path.join(tmp, "ckpt"),
        )
        _await(q)
        return read_current(spark, tbl).select(
            "o_custkey",
            "n_orders",
            F.col("sum_total").cast("double").alias("sum_total"),
            F.unix_micros(F.col("last_order")).alias("last_order_us"),
        )

    return _in_scratch(build)


def _orders_join_view_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JOIN-view maintenance (streaming/agg_stream.py
    maintain_join_view_stream): the per-(segment, priority) rollup of
    orders ⨝ customer is seeded from pre-cutoff orders, then post-cutoff
    orders arrive as two micro-batches, each enriched against the STATIC
    customer dimension (ΔS = ∅ ⇒ the delta algebra collapses to ΔR⨝S) and
    folded via the replay-guarded "+= delta". The oracle is the FULL
    recompute over the complete join (shared with orders_incremental_join)
    — the maintained table must equal it however the stream was batched."""
    from polars_order_book_spark.streaming.agg_stream import (
        init_table,
        maintain_join_view_stream,
        read_current,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cut = "1995-07-01"
    on = F.col("o_custkey") == F.col("c_custkey")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    keys = ["c_mktsegment", "o_orderpriority"]
    base_view = (
        orders.where(F.col("o_orderdate") < cut)
        .join(customer, on, "inner")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dec).alias("sum_total"),
            F.min(dec).alias("min_total"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    delta = orders.where(F.col("o_orderdate") >= cut)

    def build(tmp):
        tbl = os.path.join(tmp, "table")
        init_table(base_view, tbl)
        q = maintain_join_view_stream(
            _two_file_stream(delta, "o_orderkey", tmp),
            customer,
            on,
            tbl,
            keys,
            count_col="n_rows",
            sum_exprs={"sum_total": F.sum(dec)},
            min_exprs={"min_total": F.min(dec)},
            max_exprs={"last_order": F.max("o_orderdate")},
            checkpoint=os.path.join(tmp, "ckpt"),
        )
        _await(q)
        return read_current(spark, tbl).select(
            "c_mktsegment",
            "o_orderpriority",
            "n_rows",
            F.col("sum_total").cast("double").alias("sum_total"),
            F.col("min_total").cast("double").alias("min_total"),
            F.unix_micros(F.col("last_order")).alias("last_order_us"),
        )

    return _in_scratch(build)


def _docs_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language 2-D Pareto frontier (operators/profiling.py
    pareto_frontier): documents not dominated in (n_chars, distinct word
    count) — the multi-objective "longest AND lexically richest" selection a
    single-score top-k gets wrong. Two-phase distributed skyline: local
    skylines per (lang, salt) partition, then the same two-window pass over
    the frontier-sized survivors — no key-sized single-task window at any
    scale. Both measures integer, so the value-range frame is engine-exact;
    the oracle is the NOT EXISTS dominance definition itself."""
    from polars_order_book_spark.operators.profiling import pareto_frontier
    from polars_order_book_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # text IS NOT NULL explicitly: Spark's size(NULL array) is -1 (legacy
    # sizeOfNull), which would smuggle NULL-text docs in with a junk
    # measure instead of excluding them; the oracle filters identically.
    # lang/n_chars non-null too: the oracle excludes them, and a null lang
    # would otherwise form its own frontier group here (r10 mirror audit).
    base = docs.where(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("n_chars").isNotNull()
    ).select(
        "lang", "doc_id", "n_chars",
        F.size(F.array_distinct(F.filter(tokens("text"), lambda w: w != ""))
               ).cast("long").alias("n_distinct_words"),
    )
    return pareto_frontier(
        base, ["lang"], "n_chars", "n_distinct_words", id_col="doc_id"
    )


DOCS_PARETO_FRONTIER_SQL = r"""
WITH base AS (
  SELECT lang, doc_id, n_chars,
         CAST(len(list_distinct(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), w -> w <> ''
         ))) AS BIGINT) AS n_distinct_words
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND text IS NOT NULL
)
SELECT a.lang, a.doc_id, a.n_chars, a.n_distinct_words
FROM base a
WHERE NOT EXISTS (
  SELECT 1 FROM base b
  WHERE b.lang = a.lang
    AND b.n_chars >= a.n_chars AND b.n_distinct_words >= a.n_distinct_words
    AND (b.n_chars > a.n_chars OR b.n_distinct_words > a.n_distinct_words)
)
"""


def _events_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between event types' DAILY activity
    (operators/timeseries.py series_cross_correlation): for every ordered
    type pair and lag 0-3 days, the Pearson correlation of (a[d], b[d+k])
    over the grid-completed day range — "do views today predict purchases
    in two days". The series relation is rollup-sized (days × types), so
    every join/agg after the one daily-count aggregation is model-sized;
    counts are integers and the chain is the ACF discipline (exact
    DECIMAL(38,0), three final IEEE ops), so ccf doubles hash exactly."""
    from polars_order_book_spark.operators.timeseries import series_cross_correlation

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isNotNull())
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("day_idx"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return series_cross_correlation(daily, "event_type", "day_idx", "n", [0, 1, 2, 3])


EVENTS_CCF_SQL = """
WITH daily AS (
  SELECT event_type, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_idx,
         count(*) AS n
  FROM events WHERE event_type IS NOT NULL
  GROUP BY 1, 2
),
bounds AS (SELECT min(day_idx) AS lo, max(day_idx) AS hi FROM daily),
grid AS (
  SELECT k.event_type AS key, b.lo + r.n AS i
  FROM (SELECT DISTINCT event_type FROM daily) k,
       bounds b, (SELECT unnest(range(0, 100000)) AS n) r
  WHERE b.lo + r.n <= b.hi
),
dense AS (
  SELECT g.key, g.i, COALESCE(d.n, 0) AS v
  FROM grid g LEFT JOIN daily d ON d.event_type = g.key AND d.day_idx = g.i
),
lagged AS (
  SELECT a.key AS key_a, b.key AS key_b, l.lag AS lag, a.v AS x, b.v AS y
  FROM dense a
  JOIN (SELECT unnest([0, 1, 2, 3]) AS lag) l ON TRUE
  JOIN dense b ON b.i = a.i + l.lag
),
agg AS (
  SELECT key_a, key_b, lag, count(*) AS n_pairs,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
  FROM lagged GROUP BY 1, 2, 3
)
SELECT key_a, key_b, CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       CASE WHEN CAST(n_pairs * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n_pairs * syy - sy * sy AS DOUBLE) > 0
            THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                        * CAST(n_pairs * syy - sy * sy AS DOUBLE))
       END AS ccf
FROM agg
"""


def _sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files maintenance round trip (sources/sinks.py
    compact_partitions): write events hive-partitioned by event_type with
    MANY files per partition (8-way repartition before the write — the
    shape a streaming/append producer leaves behind), compact to one file
    per partition, read back and hash against DuckDB reading the ORIGINAL
    table — proves the rewrite loses no rows/values. The one-file-per-
    partition property itself is pinned by tests/test_sinks.py; at 100 TB
    this pass is what keeps scan planning off the listing bottleneck."""
    from polars_order_book_spark.sources.sinks import (
        compact_partitions,
        read_partitioned,
        write_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    def build(tmp):
        path = os.path.join(tmp, "events")
        write_partitioned(ev.repartition(8), path, ["event_type"])
        compact_partitions(spark, path, ["event_type"])
        back = read_partitioned(spark, path)
        return back.select("event_id", "user_id", "event_type", "value")

    return _in_scratch(build)


SINK_COMPACTION_SQL = """
SELECT event_id, user_id, event_type, value FROM events
"""


def _events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil-Sen robust trend of value over time
    (operators/timeseries.py theil_sen_trend): slope = LOWER median of all
    pairwise slopes, intercept = lower median of the residuals — the
    29%-breakdown robust twin of events_ols_trend (one outlying event
    cannot move it). Theil-Sen is inherently quadratic per key, so the
    operator caps each key at 24 points by the portable deterministic
    reservoir BEFORE pairing (the item-cooccurrence convention), bounding
    per-key work at 24²/2 pairs no matter how hot the user. Slopes and
    residuals are single IEEE divisions/fused ops of identical operands and
    the medians are exact rank selections (integer DIV), so every value
    hash-matches the oracle bit-for-bit. NULL users excluded up front (the
    pair equi-join could never keep them — grouped-quantiles convention);
    NaN values excluded like every binned/ordered family."""
    from polars_order_book_spark.operators.timeseries import theil_sen_trend

    ev = load_table(spark, sf_dir, "events")
    pts = ev.where(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan(F.col("value").cast("double"))
    ).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts")).alias("x_us"),
        F.col("value").cast("double").alias("y"),
    )
    return theil_sen_trend(
        pts, ["user_id"], "x_us", "y", id_col="event_id", max_points=24, salt="ts7"
    )


EVENTS_THEIL_SEN_SQL = """
WITH base AS (
  SELECT user_id, event_id, CAST(epoch_us(ts) AS DOUBLE) AS x, CAST(value AS DOUBLE) AS y
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
cap AS (
  SELECT user_id, event_id, x, y FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id
      ORDER BY CAST(concat('0x', substr(md5(concat(CAST(event_id AS VARCHAR), 'ts7')), 1, 15)) AS BIGINT) ASC,
               event_id ASC
    ) AS rn FROM base
  ) WHERE rn <= 24
),
pairs AS (
  SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS slope
  FROM cap a JOIN cap b
    ON a.user_id = b.user_id AND a.event_id < b.event_id AND a.x <> b.x
),
slr AS (
  SELECT user_id, slope,
         row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
         count(*) OVER (PARTITION BY user_id) AS m
  FROM pairs
),
sl AS (SELECT user_id, slope, m AS n_pairs FROM slr WHERE rn = (m + 1) // 2),
resid AS (
  SELECT c.user_id, sl.slope, sl.n_pairs, c.y - sl.slope * c.x AS r
  FROM cap c JOIN sl ON c.user_id = sl.user_id
),
rr AS (
  SELECT user_id, slope, n_pairs, r,
         row_number() OVER (PARTITION BY user_id ORDER BY r) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM resid
)
SELECT user_id, CAST(n AS BIGINT) AS n_points, CAST(n_pairs AS BIGINT) AS n_pairs,
       slope, r AS intercept
FROM rr WHERE rn = (n + 1) // 2
"""


def _events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1/2/3 autocorrelation of event value
    (operators/timeseries.py lag_autocorrelation): the seasonality/momentum
    diagnostic run before engineering lag features. Pairwise-Pearson over
    lead(v, k) pairs; values floor-quantized to millis (floor, never CAST —
    Spark's double→long cast truncates where DuckDB's rounds), all sums and
    cross-products exact DECIMAL(38,0)/HUGEINT, three final IEEE ops — so
    every acf double hash-matches bit-for-bit. Keyed per USER so window
    partitions stay bounded at corpus scale (a per-type key would sort one
    giant partition per type); shuffles scale with keys."""
    from polars_order_book_spark.operators.timeseries import lag_autocorrelation

    ev = load_table(spark, sf_dir, "events")
    return lag_autocorrelation(
        ev.select("user_id", "ts", "event_id", "value"),
        ["user_id"], ["ts", "event_id"], "value", [1, 2, 3],
    )


EVENTS_ACF_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id,
         CAST(floor(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS q
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE)) AND user_id IS NOT NULL
),
lagged AS (
  SELECT user_id, lag, q AS x,
         CASE lag WHEN 1 THEN lead(q, 1) OVER w WHEN 2 THEN lead(q, 2) OVER w
                  ELSE lead(q, 3) OVER w END AS y
  FROM base, (SELECT unnest([1, 2, 3]) AS lag) lags
  WINDOW w AS (PARTITION BY user_id, lag ORDER BY ts, event_id)
),
agg AS (
  SELECT user_id, lag, count(*) AS n_pairs,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
  FROM lagged WHERE y IS NOT NULL
  GROUP BY user_id, lag
)
SELECT user_id, CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       CASE WHEN CAST(n_pairs * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n_pairs * syy - sy * sy AS DOUBLE) > 0
            THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                        * CAST(n_pairs * syy - sy * sy AS DOUBLE))
       END AS acf
FROM agg
"""


def _events_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key reservoir (operators/sampling.py
    reservoir_per_key): exactly min(40, |group|) events per event_type,
    drawn uniformly by portable hash rank (md5-derived hash64 of event_id,
    id-tiebroken) — reproducible where Vitter's serial Algorithm R is not.
    One hash exchange + per-key window; O(k) state per key."""
    from polars_order_book_spark.operators.sampling import reservoir_per_key

    ev = load_table(spark, sf_dir, "events")
    out = reservoir_per_key(
        ev.select("event_id", "user_id", "event_type"),
        ["event_type"],
        40,
        id_col="event_id",
        salt="r6",
    )
    return out.select("event_type", "sample_rank", "event_id", "user_id")


EVENTS_RESERVOIR_SQL = """
WITH ranked AS (
  SELECT event_type, event_id, user_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(concat('0x', substr(md5(concat(CAST(event_id AS VARCHAR), 'r6')), 1, 15)) AS BIGINT) ASC,
                    event_id ASC
         ) AS sample_rank
  FROM events
)
SELECT event_type, CAST(sample_rank AS BIGINT) AS sample_rank, event_id, user_id
FROM ranked WHERE sample_rank <= 40
"""


def _events_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 6-hour active-user counts reported hourly
    (operators/timeseries.py sliding_window_distinct): COUNT(DISTINCT) over
    a sliding range, which Spark window frames cannot express and a
    per-bucket self-join would rescan W times. The scale shape is the
    bounded ×W explode (each event feeds exactly 6 window-end buckets
    map-side) + ONE shuffle on the window-end bucket — linear at 100 TB,
    time-bucket keys are skew-free by definition."""
    from polars_order_book_spark.operators.timeseries import sliding_window_distinct

    ev = load_table(spark, sf_dir, "events")
    out = sliding_window_distinct(
        ev, ts_col="ts", key_col="user_id", window_buckets=6, bucket="hour"
    )
    return out.select(
        F.unix_micros(F.col("window_end")).alias("window_end_us"),
        "n_active",
        "n_events",
    )


EVENTS_SLIDING_ACTIVE_SQL = """
WITH expanded AS (
    SELECT user_id,
           date_trunc('hour', ts) + to_hours(CAST(o AS BIGINT)) AS window_end
    FROM events, range(6) t(o)
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT epoch_us(window_end) AS window_end_us,
       count(DISTINCT user_id) AS n_active,
       count(*) AS n_events
FROM expanded GROUP BY window_end
"""


def _events_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed value score
    (operators/timeseries.py time_decay_score): halflife 2 days anchored to
    each user's own latest day. The weighted sum is ENTIRELY integer — value
    micros (BIGINT) × exact 2^(40-age/2) powers accumulated in
    DECIMAL(38,0) — so the fold is order-independent; ONE final cast + ONE
    IEEE division by the exactly-representable constant 2^40·1e6 produces
    the double. No libm. Two key-partitioned aggs + one co-partitioned
    join, all map-side partial."""
    from polars_order_book_spark.operators.timeseries import time_decay_score

    ev = load_table(spark, sf_dir, "events")
    return time_decay_score(
        ev,
        ts_col="ts",
        key_col="user_id",
        value_col="value",
        halflife_buckets=2,
        bucket="day",
        max_age_buckets=40,
    )


EVENTS_TIME_DECAY_SQL = """
WITH base AS (
    SELECT user_id,
           epoch_us(date_trunc('day', ts)) // 1000000 AS b,
           CAST(round(value * 1000000.0) AS BIGINT) AS vmicros
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
latest AS (SELECT user_id, max(b) AS bmax FROM base GROUP BY user_id),
aged AS (
    SELECT base.user_id, vmicros, bmax,
           CAST((bmax - b) / 86400 AS BIGINT) AS age
    FROM base JOIN latest USING (user_id)
),
terms AS (
    SELECT user_id, bmax,
           CASE WHEN 40 - CAST(floor(age / 2.0) AS BIGINT) > 0
                THEN CAST(vmicros AS DECIMAL(38,0))
                     * CAST(pow(2.0, CAST(40 - CAST(floor(age / 2.0) AS BIGINT) AS DOUBLE)) AS DECIMAL(38,0))
                ELSE CAST(0 AS DECIMAL(38,0)) END AS scaled
    FROM aged
)
SELECT user_id,
       CAST(sum(scaled) AS DOUBLE) / 1099511627776000000.0 AS decayed_value,
       count(*) AS n_events,
       max(bmax) AS last_bucket
FROM terms GROUP BY user_id
"""


def _events_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic popularity-biased negative sampling
    (operators/sampling.py negative_samples): per user, 5 of the 30 most
    popular items the user never touched, drawn by portable hash rank
    (reproducible BPR-style negatives). The users × catalog cross-join trap
    is structurally avoided: fan-out is users × 30 (broadcast pool), the
    exclusion is a co-partitioned left_anti on (user, item)."""
    from polars_order_book_spark.operators.sampling import negative_samples

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("item"),
    )
    out = negative_samples(
        items, user_col="user_id", item_col="item", k=5, candidate_pool=30, salt="r6"
    )
    return out.select(
        F.col("user").alias("user_id"), "item", "sample_rank"
    )


EVENTS_NEGATIVE_SAMPLES_SQL = """
WITH inter AS (
    SELECT DISTINCT user_id AS usr,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
    FROM events
    WHERE user_id IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
),
pool AS (
    SELECT item FROM (
        SELECT item, count(*) AS n FROM inter GROUP BY item
        ORDER BY n DESC, item ASC LIMIT 30) t
),
cand AS (
    SELECT u.usr, p.item
    FROM (SELECT DISTINCT usr FROM inter) u CROSS JOIN pool p
),
neg AS (
    SELECT c.usr, c.item FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM inter i WHERE i.usr = c.usr AND i.item = c.item)
),
ranked AS (
    SELECT usr, item,
           row_number() OVER (PARTITION BY usr ORDER BY
             CAST(concat('0x', substr(md5(concat(CAST(usr AS VARCHAR), ':', CAST(item AS VARCHAR), 'r6')), 1, 15)) AS BIGINT) ASC,
             item ASC) AS sample_rank
    FROM neg
)
SELECT usr AS user_id, item, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= 5
"""


def _embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/retrieval.py hard_negatives): per query, the top-10
    most-similar vectors that are neither the query, nor share its label
    (the positives set), nor exceed the 0.99 similarity ceiling (the
    standard unlabeled-positive guard). Ranking happens AFTER all
    exclusions, so lists never under-fill. Scoring is the whitelisted
    vectors × broadcast-queries scan; exclusion is a pairs-sized
    left_anti co-partitioned with the rank shuffle."""
    from polars_order_book_spark.operators.retrieval import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    queries_df = q.select(F.col("vec_id").alias("query_id"), "embedding")
    positives = (
        q.select(F.col("vec_id").alias("query_id"), "label")
        .join(emb.select(F.col("vec_id").alias("positive_id"), "label"), "label")
        .select("query_id", "positive_id")
    )
    return hard_negatives(
        emb, queries_df, positives, k=10, sim_ceiling=0.99
    )


EMBEDDINGS_HARD_NEGATIVES_SQL = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label
    FROM embeddings WHERE vec_id < 5
),
v AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS vv, label FROM embeddings),
pos AS (SELECT q.query_id, v.neighbor_id FROM q JOIN v ON v.label = q.label),
sim AS (
    SELECT q.query_id, v.neighbor_id,
           list_dot_product(qv, vv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cosine
    FROM v CROSS JOIN q
    WHERE v.neighbor_id <> q.query_id
),
adm AS (
    SELECT s.query_id, s.neighbor_id, s.cosine FROM sim s
    WHERE s.cosine < CAST(0.99 AS DOUBLE)
      AND NOT EXISTS (SELECT 1 FROM pos p
                      WHERE p.query_id = s.query_id AND p.neighbor_id = s.neighbor_id)
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM adm) t
WHERE rank <= 10
"""


def _ann_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sensitive retrieval eval (operators/similarity.py topk_mrr):
    for each query, WHERE in the LSH top-10 the exact rank-1 neighbor
    lands — reciprocal rank (0.0 when absent, the MRR convention) and
    hit@k. Per-query rows, not a mean: averaging 1/rank is an
    order-dependent float sum, so aggregation stays with the caller. Both
    inputs are top-k tables; nothing corpus-sized joins."""
    from polars_order_book_spark.operators.similarity import topk_mrr

    return topk_mrr(_ann_lsh(spark, sf_dir), _ann_bruteforce(spark, sf_dir))


ANN_EVAL_MRR_SQL = f"""
WITH approx AS ({ANN_LSH_SQL}),
exact AS ({ANN_SQL}),
top1 AS (SELECT query_id, neighbor_id FROM exact WHERE rank = 1)
SELECT t.query_id,
       a.rank AS best_rank,
       CASE WHEN a.rank IS NOT NULL THEN CAST(1 AS DOUBLE) / CAST(a.rank AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS rr,
       a.rank IS NOT NULL AS hit
FROM top1 t LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
"""


def _ann_recall_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-ablation recall (matryoshka-style): exact top-10 on the
    FIRST 32 of 64 dims, evaluated against the full-dimension truth with
    topk_recall — the measurement that decides whether a truncated
    embedding (2× cheaper to store, scan, and shuffle at 100 TB) clears
    the retrieval bar before anyone ships it. Both sides are the
    whitelisted vectors × broadcast-queries scan."""
    from polars_order_book_spark.operators.similarity import (
        cosine_topk_bruteforce,
        topk_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sliced = emb.select("vec_id", F.slice(F.col("embedding"), 1, 32).alias("embedding"))
    queries_df = sliced.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = cosine_topk_bruteforce(sliced, queries_df, k=10)
    return topk_recall(approx, _ann_bruteforce(spark, sf_dir))


ANN_RECALL_DIMS_SQL = f"""
WITH qd AS (
    SELECT vec_id AS query_id, (CAST(embedding AS DOUBLE[]))[1:32] AS qv
    FROM embeddings WHERE vec_id < 5
),
vd AS (SELECT vec_id AS neighbor_id, (CAST(embedding AS DOUBLE[]))[1:32] AS vv FROM embeddings),
simd AS (
    SELECT qd.query_id, vd.neighbor_id,
           list_dot_product(qv, vv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))) AS cosine
    FROM vd CROSS JOIN qd
    WHERE vd.neighbor_id <> qd.query_id
),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM simd) t
    WHERE rank <= 10
),
exact AS ({ANN_SQL}),
hits AS (
    SELECT e.query_id, count(*) AS n_hits
    FROM exact e JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
),
totals AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT t.query_id, COALESCE(h.n_hits, 0) AS n_hits, t.n_exact,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(t.n_exact AS DOUBLE) AS recall
FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
"""


def _events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation — overlapping 2-hour windows
    sliding hourly over the unbounded event stream (window + slide +
    watermark + append mode): each event feeds exactly 2 open windows, each
    window emits exactly once when the 1-hour watermark passes its end.
    State = open windows only (bounded by slide count × window span). The
    tumbling sibling is events_hourly_stream_append; the slide is what
    overlapping trailing metrics need without a batch rescan."""
    from polars_order_book_spark.sources.tables import load_table_stream

    ev = load_table_stream(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )
    return _run_stream(
        agg, "append", f"{sf_dir}/events.parquet",
        lambda t: t.select("window_start_us", "n_events", "sum_value"),
        parquet=True,
    )


EVENTS_SLIDING_STREAM_SQL = """
WITH wm AS (
    SELECT (max(epoch_us(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events
),
expanded AS (
    SELECT epoch_us(date_trunc('hour', ts) - to_hours(CAST(o AS BIGINT))) AS window_start_us,
           value
    FROM events, range(2) t(o)
)
SELECT window_start_us, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM expanded, wm
GROUP BY window_start_us, wm.wm_us
HAVING window_start_us + 7200000000 <= wm.wm_us
"""


def _events_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2-style attribute history (operators/timeseries.py
    attribute_runs): each user's timeline collapsed into maximal runs of a
    constant event_type with validity bounds — the gaps-and-islands build.
    Two windows over ONE (user, ts, event_id) sort + a runs-sized groupBy;
    the (ts, event_id) tiebreak makes run boundaries a total order, so the
    oracle reproduces them exactly."""
    from polars_order_book_spark.operators.timeseries import attribute_runs

    ev = load_table(spark, sf_dir, "events")
    out = attribute_runs(
        ev, key_col="user_id", attr_col="event_type", ts_col="ts",
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        F.col("run_id").cast("long").alias("run_id"),
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "n_rows",
    )


EVENTS_USER_TYPE_HISTORY_SQL = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           -- null-safe change flag, mirroring attribute_runs' eqNullSafe
           -- derivation (r8): IS DISTINCT FROM treats NULL attrs as a
           -- value; row_number()=1 starts the first run explicitly
           CASE WHEN row_number() OVER w = 1
                  OR event_type IS DISTINCT FROM lag(event_type) OVER w
                THEN 1 ELSE 0 END AS chg
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, event_type, ts,
           sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_id
    FROM ordered
)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id, min(event_type) AS event_type,
       epoch_us(min(ts)) AS valid_from_us, epoch_us(max(ts)) AS valid_to_us,
       count(*) AS n_rows
FROM runs GROUP BY user_id, run_id
"""


def _events_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit (operators/timeseries.py out_of_order_stats):
    per user, how many events arrive (by event_id order) with a timestamp
    BELOW the running max — exactly the rows a too-tight withWatermark
    would silently drop. One key sort + one window + one groupBy; the only
    float is the final exact division."""
    from polars_order_book_spark.operators.timeseries import out_of_order_stats

    ev = load_table(spark, sf_dir, "events")
    return out_of_order_stats(
        ev, key_col="user_id", ts_col="ts", arrival_col="event_id"
    )


EVENTS_LATE_ARRIVALS_SQL = """
WITH m AS (
    SELECT user_id, epoch_us(ts) AS tsu,
           max(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
l AS (
    SELECT user_id,
           CASE WHEN prev_max IS NOT NULL AND prev_max > tsu
                THEN prev_max - tsu ELSE 0 END AS late_us
    FROM m
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       max(late_us) AS max_lateness_us,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS frac_late
FROM l GROUP BY user_id
"""


def _events_debounced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-hygiene debounce (operators/timeseries.py debounce): at most
    one event per (user, type) per aligned 10-minute bucket — the earliest
    by (ts, event_id) — plus how many rows it absorbed. Deliberately the
    aligned-bucket variant: greedy debounce is a serial state machine whose
    output depends on unbounded look-back; buckets are a pure row function,
    so batch backfill and streaming agree. One groupBy with map-side
    partials, no window sort."""
    from polars_order_book_spark.operators.timeseries import debounce

    ev = load_table(spark, sf_dir, "events")
    out = debounce(
        ev, keys=["user_id", "event_type"], ts_col="ts",
        tiebreak_col="event_id", interval_seconds=600,
    )
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "n_suppressed",
    )


EVENTS_DEBOUNCED_SQL = """
WITH b AS (
    SELECT user_id, event_type, event_id, ts,
           epoch_us(ts) // 600000000 AS bkt
    FROM events WHERE ts IS NOT NULL
),
r AS (
    SELECT user_id, event_type, event_id, ts,
           row_number() OVER (PARTITION BY user_id, event_type, bkt
                              ORDER BY ts, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id, event_type, bkt) AS cnt
    FROM b
)
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
       CAST(cnt - 1 AS BIGINT) AS n_suppressed
FROM r WHERE rn = 1
"""


def _docs_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage matrix (operators/text.py
    split_contamination_matrix): after the deterministic 90/5/5 hash split,
    the fraction of val/test documents sharing a token 4-gram with ANY
    train document — the audit that MEASURES the leakage
    documents_leakage_split exists to prevent (hash-keyed splits scatter
    near-duplicates across the wall; this is the proof). Train grams are
    corpus-sized, so the gram match is a plain shuffled equi-join — the
    reverse of text_contamination's broadcast-probe shape."""
    from polars_order_book_spark.operators.text import split_contamination_matrix

    docs = load_table(spark, sf_dir, "documents")
    return split_contamination_matrix(docs, n=4)


def _docs_split_contamination_sql() -> str:
    from polars_order_book_spark.functions.hashing import hash64_sql

    b = f"{hash64_sql('CAST(doc_id AS VARCHAR)')} % 1000000"
    return f"""
WITH lbl AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t,
           CASE WHEN {b} < 900000 THEN 'train'
                WHEN {b} < 950000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
tg AS (
    SELECT DISTINCT concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4]) AS g
    FROM lbl, range(0, 4096) r(i)
    WHERE split = 'train' AND len(t) >= 4 AND i <= len(t) - 4
),
eg AS (
    SELECT DISTINCT doc_id, split,
           concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4]) AS g
    FROM lbl, range(0, 4096) r(i)
    WHERE split <> 'train' AND len(t) >= 4 AND i <= len(t) - 4
),
hit AS (SELECT DISTINCT doc_id, split FROM eg JOIN tg USING (g)),
per AS (SELECT split, count(*) AS n_docs FROM lbl WHERE split <> 'train' GROUP BY split),
h AS (SELECT split, count(*) AS n_contaminated FROM hit GROUP BY split)
SELECT per.split, per.n_docs,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
           / CAST(per.n_docs AS DOUBLE) AS contamination_rate
FROM per LEFT JOIN h ON per.split = h.split
"""


def _events_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (operators/profiling.py
    distribution_drift): per event_type, total-variation + KS between the
    first-half and second-half value distributions (10 fixed-width
    buckets). Both statistics reduce to EXACT integer forms —
    Σ|n·M−m·N|/(2NM) and max|cumΔ|/(NM) in DECIMAL(38,0) — which is why
    TV/KS and not PSI/KL (log ratios would drag libm rounding into the
    oracle hash). Bucket-domain-sized shuffles only."""
    from polars_order_book_spark.operators.profiling import distribution_drift

    ev = load_table(spark, sf_dir, "events")
    labeled = ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull()).select(
        "event_type",
        F.when(F.col("ts") < F.to_timestamp(F.lit("2024-01-16")), "base")
        .otherwise("current")
        .alias("cohort"),
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(9)
        ).alias("bucket"),
    )
    return distribution_drift(
        labeled, by=["event_type"], cohort_col="cohort", bucket_col="bucket"
    )


EVENTS_VALUE_DRIFT_SQL = """
WITH lab AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'base'
                ELSE 'current' END AS cohort,
           least(CAST(floor(value / CAST(50 AS DOUBLE)) AS BIGINT), 9) AS bucket
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
counts AS (
    SELECT event_type, bucket,
           sum(CASE WHEN cohort = 'base' THEN 1 ELSE 0 END) AS n,
           sum(CASE WHEN cohort = 'current' THEN 1 ELSE 0 END) AS m
    FROM lab GROUP BY event_type, bucket
),
tot AS (SELECT event_type, sum(n) AS nn, sum(m) AS mm FROM counts GROUP BY event_type),
j AS (
    SELECT c.event_type, c.bucket, c.n, c.m, t.nn, t.mm
    FROM counts c JOIN tot t USING (event_type)
    WHERE t.nn > 0 AND t.mm > 0
),
terms AS (
    SELECT event_type, nn, mm,
           abs(CAST(n AS DECIMAL(38,0)) * CAST(mm AS DECIMAL(38,0))
               - CAST(m AS DECIMAL(38,0)) * CAST(nn AS DECIMAL(38,0))) AS ad,
           abs(CAST(sum(n) OVER w AS DECIMAL(38,0)) * CAST(mm AS DECIMAL(38,0))
               - CAST(sum(m) OVER w AS DECIMAL(38,0)) * CAST(nn AS DECIMAL(38,0))) AS acd
    FROM j
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket ROWS UNBOUNDED PRECEDING)
)
SELECT event_type,
       CAST(min(nn) AS BIGINT) AS n_base,
       CAST(min(mm) AS BIGINT) AS n_current,
       CAST(sum(ad) AS DOUBLE)
           / (CAST(2 AS DOUBLE) * CAST(min(nn) AS DOUBLE) * CAST(min(mm) AS DOUBLE)) AS tv,
       CAST(max(acd) AS DOUBLE)
           / (CAST(min(nn) AS DOUBLE) * CAST(min(mm) AS DOUBLE)) AS ks
FROM terms GROUP BY event_type
"""


def _embeddings_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor (operators/linalg.py centroid_drift):
    per label, the cosine between the even-id and odd-id cohort centroids —
    the cheap encoder/corpus-shift alarm (a swinging centroid is drift no
    matter what individual neighbors do). Exact DECIMAL(30,12) per-dim
    sums, fixed-order centroid arrays, the ANN family's fused dot — the
    shuffle is model-sized (labels × cohorts × 64)."""
    from polars_order_book_spark.operators.linalg import centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    labeled = emb.select(
        "label",
        F.when(F.col("vec_id") % 2 == 0, "base").otherwise("current").alias("cohort"),
        "embedding",
    )
    return centroid_drift(labeled, by="label", cohort_col="cohort", dim=64)


EMBEDDINGS_CENTROID_DRIFT_SQL = """
WITH e AS (
    SELECT label,
           CASE WHEN vec_id % 2 = 0 THEN 'base' ELSE 'current' END AS c,
           CAST(d AS INT) AS d,
           (CAST(embedding AS DOUBLE[]))[CAST(d AS INT) + 1] AS x
    FROM embeddings, range(0, 64) r(d)
),
sums AS (
    SELECT label, c, d,
           sum(CAST(x AS DECIMAL(30,12))) AS s, count(*) AS n
    FROM e GROUP BY label, c, d
),
cent AS (
    SELECT label, c,
           list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY d) AS cent,
           CAST(min(n) AS BIGINT) AS nrows
    FROM sums GROUP BY label, c
),
a AS (SELECT label, cent AS ca, nrows AS n_base FROM cent WHERE c = 'base'),
b AS (SELECT label, cent AS cb, nrows AS n_current FROM cent WHERE c = 'current')
SELECT a.label, a.n_base, b.n_current,
       round(list_dot_product(ca, cb)
           / (sqrt(list_dot_product(ca, ca)) * sqrt(list_dot_product(cb, cb))), 9) AS centroid_cosine
FROM a JOIN b USING (label)
"""


def _events_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: the frozen BASELINE histogram (first-half
    events, computed offline) vs a CURRENT histogram maintained by
    foreachBatch "+= delta" over the arriving second half (two
    micro-batches through streaming/agg_stream.py, _CURRENT-marker replay
    guard), compared with operators/profiling.py drift_from_counts — no
    rescan of either cohort's facts, ever. Additive counts are associative,
    so the final TV/KS equal the batch recompute however the stream was
    micro-batched: the oracle IS events_value_drift's SQL, verbatim."""
    from polars_order_book_spark.operators.profiling import drift_from_counts
    from polars_order_book_spark.streaming.agg_stream import (
        init_table,
        maintain_rollup_stream,
        read_current,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-16"))
    bucketed = ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull()).select(
        "event_type",
        F.col("ts"),
        F.col("event_id"),
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("long"), F.lit(9)
        ).alias("bucket"),
    )
    baseline = (
        bucketed.where(F.col("ts") < cut)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    current_facts = bucketed.where(F.col("ts") >= cut)

    def build(tmp):
        tbl = os.path.join(tmp, "table")
        # current-cohort histogram starts EMPTY; the stream builds it
        init_table(
            current_facts.where(F.lit(False))
            .groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).alias("n_rows")),
            tbl,
        )
        q = maintain_rollup_stream(
            _two_file_stream(current_facts, "event_id", tmp),
            tbl,
            ["event_type", "bucket"],
            count_col="n_rows",
            checkpoint=os.path.join(tmp, "ckpt"),
        )
        _await(q)
        return drift_from_counts(
            baseline,
            read_current(spark, tbl),
            by=["event_type"],
            bucket_col="bucket",
        )

    return _in_scratch(build)


def _sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution roundtrip: a dataset written in TWO schema versions
    (v2 adds a `value` column) read back as one relation with
    ``mergeSchema`` — the connector behavior every long-lived table needs
    when a producer adds a field (old files surface the new column as
    null; no rewrite of history). Verified by a per-type aggregate that
    touches both the shared and the added column. mergeSchema costs one
    footer read per FILE at planning time — fine per-batch, not something
    to leave on for a million-file table (persist the merged schema
    instead)."""
    ev = load_table(spark, sf_dir, "events")

    def build(tmp):
        out = os.path.join(tmp, "data")
        ev.where(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id", "event_type"
        ).write.parquet(out)
        ev.where(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "event_type", "value"
        ).write.mode("append").parquet(out)
        merged = spark.read.option("mergeSchema", "true").parquet(out)
        return merged.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("value").alias("n_with_value"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
        )

    return _in_scratch(build)


SINK_SCHEMA_EVOLUTION_SQL = """
SELECT event_type,
       count(*) AS n_rows,
       count(CASE WHEN event_id % 2 = 1 THEN value END) AS n_with_value,
       CAST(sum(CASE WHEN event_id % 2 = 1 THEN CAST(value AS DECIMAL(20,6)) END) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


def _docs_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-choice eval: per-language BPE fertility (tokens per word)
    and compression (chars per token) under the corpus-learned merge table —
    the measurement that decides whether a tokenizer is fair across
    languages BEFORE a 100 TB tokenization run (high-fertility langs pay
    more sequence length per character of content). Reuses the
    documents_bpe_tokens chain (learn top merge driver-side, apply_bpe
    mapInPandas) plus one lang-sized rollup; ratios are single divisions
    over exact BIGINT sums."""
    from polars_order_book_spark.operators.bpe import (
        apply_bpe,
        learn_bpe_merges,
        word_frequencies,
    )
    from polars_order_book_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(word_frequencies(docs), 1)
    per_doc = apply_bpe(docs, merges).select("doc_id", "n_bpe_tokens")
    stats = docs.select(
        "doc_id",
        "lang",
        token_count("text").cast("long").alias("n_words"),
        F.length(F.col("text")).cast("long").alias("n_chars"),
    )
    return (
        stats.join(per_doc, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "total_bpe_tokens",
            (
                F.col("total_bpe_tokens").cast("double")
                / F.col("total_words").cast("double")
            ).alias("tokens_per_word"),
            (
                F.col("total_chars").cast("double")
                / F.col("total_bpe_tokens").cast("double")
            ).alias("chars_per_token"),
        )
    )


DOCS_BPE_FERTILITY_SQL = r"""
WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents),
w AS (SELECT word, count(*) AS freq FROM tk WHERE word <> '' GROUP BY word),
pc AS (
  SELECT substr(word, CAST(i AS INT), 1) AS l,
         CASE WHEN i = length(word) THEN '</w>' ELSE substr(word, CAST(i AS INT) + 1, 1) END AS r,
         sum(freq) AS pair_freq
  FROM w, UNNEST(range(1, length(word) + 1)) AS t(i)
  GROUP BY 1, 2
),
best AS (SELECT l, r FROM pc ORDER BY pair_freq DESC, l, r LIMIT 1),
dw AS (
  SELECT d.doc_id, unnest(string_split_regex(lower(trim(d.text)), '\s+')) AS word
  FROM documents d
),
per_word AS (
  SELECT dw.doc_id,
         length(word) + 1
         - CASE WHEN b.r = '</w>'
                THEN CASE WHEN substr(word, length(word), 1) = b.l THEN 1 ELSE 0 END
                ELSE (length(word) - length(replace(word, b.l || b.r, ''))) // 2
           END AS n_word
  FROM dw, best b
  WHERE word <> ''
),
per_doc AS (
  SELECT d.doc_id, d.lang,
         len(string_split_regex(lower(trim(d.text)), '\s+')) AS n_words,
         length(d.text) AS n_chars,
         COALESCE(s.n, 0) AS n_bpe
  FROM documents d
  LEFT JOIN (SELECT doc_id, sum(n_word) AS n FROM per_word GROUP BY doc_id) s
    ON d.doc_id = s.doc_id
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE) AS tokens_per_word,
       CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_bpe) AS DOUBLE) AS chars_per_token
FROM per_doc GROUP BY lang
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# The driver's correctness run covers only the FIRST 50 dict entries of
# queries(). Rotation policy, in priority order (amended r6 per the r5
# verdict): (1) any entry whose LATEST driver row is red outranks everything;
# (2) never-sampled entries (new operators, renames); (3) entries whose
# behavior/plan changed this round; (4) oldest-green entries. Recently-green
# entries wait in the tail. tests/test_registry.py pins the split; every
# entry is additionally pinned by the full local oracle gate
# (CORRECTNESS_LOCAL_r6.json) + pytest regardless of driver sampling.
_R10_HEAD = [
    # GENERATED by tools/apply_rotation.py --round 10 --changed ob_stream_deep_top20_rocksdb,documents_pareto_frontier,ob_nbbo_keyed,ob_nbbo_keyed_chunked,events_heavy_hitters_stream
    # policy: stale-red > never-sampled > deferred > behavior-changed > oldest-green
    # registry=260 driver-green-union=255 never-sampled=5
    "embeddings_knn_graph_wide",  # never-sampled
    "events_heavy_hitters_abs",  # never-sampled
    "events_heavy_hitters_stream_abs",  # never-sampled
    "ob_nbbo_keyed_bounded",  # never-sampled
    "ob_stream_parquet_sink_top3",  # never-sampled
    "documents_pareto_frontier",  # behavior-changed
    "events_heavy_hitters_stream",  # behavior-changed
    "ob_nbbo_keyed",  # behavior-changed
    "ob_nbbo_keyed_chunked",  # behavior-changed
    "ob_stream_deep_top20_rocksdb",  # behavior-changed
    "q1_pricing_summary",  # oldest-green
    "q3_top_revenue_orders",  # oldest-green
    "q5_nation_revenue",  # oldest-green
    "text_docfreq_score",  # oldest-green
    "text_fingerprint",  # oldest-green
    "text_lang_id",  # oldest-green
    "text_quality",  # oldest-green
    "text_redact_pii",  # oldest-green
    "topk_orders_per_customer",  # oldest-green
    "documents_chunks",  # oldest-green
    "documents_stratified_sample",  # oldest-green
    "documents_weighted_sample",  # oldest-green
    "embeddings_kmeans_step",  # oldest-green
    "embeddings_outliers",  # oldest-green
    "events_anomaly_zscore",  # oldest-green
    "events_attribution_stream",  # oldest-green
    "events_attribution_stream_outer",  # oldest-green
    "events_enriched_stream",  # oldest-green
    "events_funnel",  # oldest-green
    "events_hourly_stream_append",  # oldest-green
    "events_markov_transitions",  # oldest-green
    "events_ols_trend",  # oldest-green
    "events_pattern_3grams",  # oldest-green
    "events_retention_cohorts",  # oldest-green
    "events_user_distinct_sketch_rollup",  # oldest-green
    "events_user_type_profile",  # oldest-green
    "events_value_deciles",  # oldest-green
    "events_winsorize",  # oldest-green
    "ob_depth_profile",  # oldest-green
    "ob_ofi",  # oldest-green
    "ob_ohlc_bars",  # oldest-green
    "ob_realized_variance",  # oldest-green
    "orders_merge_apply",  # oldest-green
    "orders_orc_roundtrip",  # oldest-green
    "part_triangle_counts",  # oldest-green
    "part_unpivot_metrics",  # oldest-green
    "q11_important_parts",  # oldest-green
    "q13_customer_distribution",  # oldest-green
    "q16_supplier_variety",  # oldest-green
    "q21_waiting_suppliers",  # oldest-green
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # --- r5 head: the 38 entries never sampled by any driver round (r1-r4
        # union = 109 of 147; these are the other 38) ---
        "orders_merge_stream": _orders_merge_stream,
        "q22_dormant_customers": hq.q22_dormant_customers,
        "ob_vwap_buckets": _ob_vwap,
        "q15_top_supplier": hq.q15_top_supplier,
        "documents_sentences": hq.documents_sentences,
        "q12_late_shipments": hq.q12_late_shipments,
        "q14_promo_revenue": hq.q14_promo_revenue,
        "q4_priority_count": hq.q4_priority_count,
        "q7_volume_shipping": hq.q7_volume_shipping,
        "q17_small_qty_revenue": hq.q17_small_qty_revenue,
        "q20_concentrated_suppliers": hq.q20_concentrated_suppliers,
        "q18_large_orders": hq.q18_large_orders,
        "events_cohort_setops": hq.events_cohort_setops,
        "q19_disjunctive_revenue": hq.q19_disjunctive_revenue,
        "events_grouping_sets": hq.events_grouping_sets,
        "ob_l1_metrics": _ob_l1_metrics,
        "events_props_variant": hq.events_props_variant,
        "events_pseudonymize": hq.events_pseudonymize,
        "events_stream_dropdup": _events_stream_dropdup,
        "dedup_stream_survivors": _dedup_stream_survivors,
        "text_repetition": _text_repetition,
        "text_contamination": _text_contamination,
        "orders_price_bands": _orders_price_bands,
        "events_sessionize_stream_append": _events_sessionize_stream_append,
        "ob_consistency_n1_n2": _ob_consistency,
        "part_hconcat": _part_hconcat,
        "events_jsonl_roundtrip": _events_jsonl_roundtrip,
        "documents_profile": _documents_profile,
        "embeddings_quantize_int8": _embeddings_quantize,
        "documents_pack_sequences": _docs_pack_sequences,
        "events_zorder_key": _events_zorder_key,
        "sink_roundtrip": _sink_roundtrip,
        "sink_bucketed_join": hq.sink_bucketed_join,
        "sink_compaction": _sink_compaction,
        "text_clean": _text_clean,
        "documents_category_index": _docs_category_index,
        "events_csv_roundtrip": _events_csv_roundtrip,
        "q10_returned_items": hq.q10_returned_items,
        "events_props_json": hq.events_props_json,
        "documents_domain_mix": _docs_domain_mix,
        # --- oldest driver signal (latest green row is r2) ---
        "q6_forecast_revenue": hq.q6_forecast_revenue,
        "multimodal_features": _multimodal_features,
        "multimodal_frame_sample": _frame_sample,
        "multimodal_resize": _multimodal_resize,
        "multimodal_audio_features": _multimodal_audio,
        "text_vocabulary": _text_vocabulary,
        "text_tfidf": _text_tfidf,
        "text_token_counts": _text_tokens,
        # --- r5 behavior-changed (fresh driver signal wanted): NBBO default
        # flipped to the segmented-scan fill; IVF assignment + SimHash votes
        # rebuilt as parsed SQL expressions ---
        "ob_nbbo_keyed": _ob_nbbo,
        # --- new in r5: Misra-Gries heavy hitters (sketch-prune +
        # exact-verify) and BPE tokenizer-training pair counts; no driver
        # signal yet ---
        "events_heavy_hitters": _events_heavy_hitters,
        "documents_bpe_pair_counts": _docs_bpe_pair_counts,
        "dedup_incremental": _dedup_incremental,
        # --- new in r6: keyed heavy hitters, end-to-end BPE tokenize, and
        # the streaming Misra-Gries sketch ---
        "events_heavy_hitters_by_type": _events_heavy_hitters_by_type,
        "events_heavy_hitters_abs": _events_heavy_hitters_abs,
        "events_heavy_hitters_windowed": _events_heavy_hitters_windowed,
        "documents_bpe_tokens": _docs_bpe_tokens,
        "documents_bpe_train_distributed": _docs_bpe_train_distributed,
        "documents_unigram_vocab": _docs_unigram_vocab,
        "documents_unigram_tokens": _docs_unigram_tokens,
        "documents_unigram_em_vocab": _docs_unigram_em_vocab,
        "documents_unigram_em_tokens": _docs_unigram_em_tokens,
        "events_heavy_hitters_stream": _events_heavy_hitters_stream,
        "events_heavy_hitters_stream_abs": _events_heavy_hitters_stream_abs,
        "text_bm25": _text_bm25,
        "documents_hybrid_search": _docs_hybrid_search,
        "documents_wordfreq_stream": _docs_wordfreq_stream,
        "documents_temperature_mix": _docs_temperature_mix,
        # --- new in r6 session 2 ---
        "embeddings_semdedup": _embeddings_semdedup,
        "documents_split_assign": _docs_split_assign,
        "documents_lm_score": _docs_lm_score,
        "embeddings_knn_graph": _embeddings_knn_graph,
        "embeddings_knn_graph_wide": _embeddings_knn_graph_wide,
        "embeddings_ann_stream": _embeddings_ann_stream,
        "text_dup_span_cuts": _text_dup_span_cuts,
        "documents_dsir_weights": _docs_dsir_weights,
        "embeddings_semdedup_incremental": _embeddings_semdedup_incremental,
        "text_apply_span_cuts": _text_apply_span_cuts,
        "embeddings_random_projection": _embeddings_random_projection,
        "embeddings_pq_codes": _embeddings_pq_codes,
        "embeddings_pq_topk": _embeddings_pq_topk,
        "documents_gopher_rules": _docs_gopher_rules,
        "documents_ngram_novelty": _docs_ngram_novelty,
        "documents_curriculum_order": _docs_curriculum_order,
        "embeddings_kmeans_train": _embeddings_kmeans_train,
        "embeddings_pq_ivf_topk": _embeddings_pq_ivf_topk,
        "ann_recall_pq": _ann_recall_pq,
        "embeddings_pq_ivf_residual_topk": _embeddings_pq_ivf_residual,
        "ann_recall_pq_residual": _ann_recall_pq_residual,
        "embeddings_pq_trained_topk": _embeddings_pq_trained,
        "ann_recall_pq_trained": _ann_recall_pq_trained,
        "events_countmin_rollup": _events_countmin_rollup,
        "orders_bloom_semijoin": _orders_bloom_semijoin,
        "documents_oov_rate": _documents_oov_rate,
        "text_postings": _text_postings,
        "events_item_cooccurrence": _events_item_cooccurrence,
        "events_top_similar_items": _events_top_similar_items,
        "orders_incremental_agg": _orders_incremental_agg,
        "orders_incremental_join": _orders_incremental_join,
        "orders_join_view_stream": _orders_join_view_stream,
        "orders_retraction_agg": _orders_retraction_agg,
        "ann_hamming_rerank": _ann_hamming_rerank,
        "events_hll_rollup": _events_hll_rollup,
        "events_quantile_histogram": _events_quantile_histogram,
        "events_quantiles_exact_by_type": _events_quantiles_exact_by_type,
        "events_quantiles_exact_twopass": _events_quantiles_exact_twopass,
        "documents_token_weighted_length": _documents_token_weighted_length,
        "events_selfjoin_size": _events_selfjoin_size,
        "documents_pmi_keywords": _documents_pmi_keywords,
        "documents_zipf_profile": _documents_zipf_profile,
        "orders_rollup_stream": _orders_rollup_stream,
        "events_reservoir_sample": _events_reservoir_sample,
        "events_theil_sen": _events_theil_sen,
        "documents_pareto_frontier": _docs_pareto_frontier,
        "events_acf": _events_acf,
        "events_ccf": _events_ccf,
        "documents_classifier_step": _docs_classifier_step,
        "documents_classifier_score": _docs_classifier_score,
        "documents_classifier_reliability": _docs_classifier_reliability,
        "ob_book_asof": _ob_book_asof,
        "ann_mmr_rerank": _ann_mmr,
        "dedup_recall_banding": _dedup_recall_banding,
        "documents_leakage_split": _docs_leakage_split,
        "documents_lm_heldout": _docs_lm_heldout,
        "embeddings_covariance": _embeddings_covariance,
        "documents_classifier_stream": _docs_classifier_stream,
        "events_anomaly_mad": hq.events_anomaly_mad,
        "documents_char_entropy": hq.documents_char_entropy,
        "documents_quality_correlation": hq.documents_quality_correlation,
        # --- new in r6 session 7 ---
        "events_sliding_active_users": _events_sliding_active_users,
        "events_time_decay": _events_time_decay,
        "events_negative_samples": _events_negative_samples,
        "embeddings_hard_negatives": _embeddings_hard_negatives,
        "ann_eval_mrr": _ann_eval_mrr,
        "ann_recall_dims": _ann_recall_dims,
        "events_k_anonymity": hq.events_k_anonymity,
        "events_sliding_stream": _events_sliding_stream,
        "events_user_type_history": _events_user_type_history,
        "events_late_arrivals": _events_late_arrivals,
        "events_debounced": _events_debounced,
        "documents_quality_percentile": hq.documents_quality_percentile,
        "documents_split_contamination": _docs_split_contamination,
        "events_value_drift": _events_value_drift,
        "embeddings_centroid_drift": _embeddings_centroid_drift,
        "events_drift_stream": _events_drift_stream,
        "sink_schema_evolution": _sink_schema_evolution,
        "documents_bpe_fertility": _docs_bpe_fertility,
        # --- DEMOTED TAIL (past the driver's 50-entry cap): every entry below
        # supplier_nation_summary: r2-green plain join-agg whose shape q5/q9
        # cover in recent samples; demoted for the new incremental-dedup entry.
        "supplier_nation_summary": hq.supplier_nation_summary,
        # ann_cosine_topk_ivf: r5 rebuilt its assignment as parsed SQL (same
        # Catalyst tree, oracle re-verified locally); r1-r3 triple-green,
        # demoted to make room for the genuinely-new BPE entry.
        "ann_cosine_topk_ivf": _ann_ivf,
        # dedup_simhash: r5 rewrote its vote expressions as parsed SQL (same
        # Catalyst tree); r1-r3 triple-green + local gate cover it, demoted
        # to make room for the genuinely-new heavy-hitters entry.
        "dedup_simhash": _dedup_simhash,
        # has at least one green driver row from r3/r4 plus local-gate + pytest
        # coverage; rotate stale ones back per round ---
        "ob_ofi": _ob_ofi,
        "ob_ohlc_bars": _ob_ohlc,
        "events_ols_trend": hq.events_ols_trend,
        "events_markov_transitions": hq.events_markov_transitions,
        "events_anomaly_zscore": hq.events_anomaly_zscore,
        "events_interpolate_daily": hq.events_interpolate_daily,
        "documents_weighted_sample": _docs_weighted_sample,
        "documents_fuzzy_pairs": _docs_fuzzy_pairs,
        "documents_fuzzy_pairs_segments": _docs_fuzzy_pairs_segments,
        "documents_fuzzy_pairs_segments_tau3": _docs_fuzzy_pairs_segments_tau3,
        "part_triangle_counts": _part_triangles,
        "ob_depth_profile": _ob_depth_profile,
        "supplier_similarity": _supplier_similarity,
        "ann_recall_lsh": _ann_recall_lsh,
        "events_winsorize": hq.events_winsorize,
        "orders_orc_roundtrip": _orc_roundtrip,
        "events_pattern_3grams": hq.events_pattern_3grams,
        "documents_chunks": _docs_chunks,
        "documents_hash_embed_knn": _docs_hash_embed_knn,
        "embeddings_kmeans_step": _embeddings_kmeans_step,
        "ob_nbbo_keyed_chunked": _ob_nbbo,
        "ob_nbbo_keyed_bounded": _ob_nbbo,
        "q2_min_cost_supplier": hq.q2_min_cost_supplier,
        "q8_market_share": hq.q8_market_share,
        "q9_product_profit": hq.q9_product_profit,
        "q11_important_parts": hq.q11_important_parts,
        "q16_supplier_variety": hq.q16_supplier_variety,
        "q21_waiting_suppliers": hq.q21_waiting_suppliers,
        "events_attribution_stream": _events_attribution_stream,
        "documents_stratified_sample": _docs_stratified_sample,
        "events_value_deciles": hq.events_value_deciles,
        "supplier_pagerank": _supplier_pagerank,
        "events_user_profile_stream": _events_user_profile_stream,
        "part_snapshot_diff": _part_snapshot_diff,
        "events_attribution_stream_outer": _events_attribution_stream_outer,
        "ob_realized_variance": _ob_realized_variance,
        "events_user_distinct_sketch_rollup": hq.events_user_distinct_sketch_rollup,
        "orders_quality_report": _orders_quality_report,
        "events_funnel": hq.events_funnel,
        "events_retention_cohorts": hq.events_retention_cohorts,
        "events_hourly_stream_append": _events_hourly_stream_append,
        "events_enriched_stream": _events_enriched_stream,
        "bookgen_source_agg": _bookgen_source_agg,
        "documents_curation_pipeline": _documents_curation_pipeline,
        "events_asof_next_purchase": _events_asof_forward,
        "part_unpivot_metrics": _part_unpivot,
        "events_user_type_profile": hq.events_user_type_profile,
        "text_dup_spans": _text_dup_spans,
        "documents_quality_filter": _documents_quality_filter,
        "orders_merge_apply": _orders_merge_apply,
        "embeddings_outliers": _embeddings_outliers,
        "q13_customer_distribution": hq.q13_customer_distribution,
        "ob_relational_updates_top3": _ob_updates(3),
        "ob_relational_modify_top2": _ob_modify(2),
        "ob_relational_keyed_mutations_top2": _ob_keyed_mutations(2),
        "q1_pricing_summary": hq.q1_pricing_summary,
        "documents_deduped": _documents_deduped,
        "dedup_components": _dedup_components,
        "ob_chunked_mutations_top2": _ob_mutations(2),
        "events_user_distinct_approx": hq.events_user_distinct_approx,
        "documents_hash_sample": _docs_hash_sample,
        "ann_cosine_topk_lsh": _ann_lsh,
        "topk_orders_per_customer": hq.topk_orders_per_customer,
        "customers_without_orders": hq.customers_without_orders,
        "events_user_running_total": hq.events_user_running_total,
        "events_rollup": hq.events_rollup,
        "events_value_quantiles": hq.events_value_quantiles,
        "ann_cosine_topk_blas": _ann_blas,
        "text_winnow_fingerprints": _text_winnow,
        # dedup_components runs driver union-find under the edge cap (star
        # rounds above); dedup_components_star keeps the star rounds under
        # the oracle, and dedup_components_prop names the retired min-label
        # propagation, now the same builder as dedup_components
        "dedup_components_prop": _dedup_components,
        "dedup_components_star": _dedup_components_star,
        "text_fingerprint": _text_fingerprint,
        "text_lang_id": _text_lang,
        "events_hourly": hq.events_hourly,
        "ob_conversion_top2": _ob_conversion(2),
        "ob_updates_top1": _ob_updates(1),
        "ob_updates_top3": _ob_updates(3),
        # deep book: the derived updates stream has 10 possible prices per
        # side (user_id parity fixes price parity), so n=10 emits the FULL
        # side — the wide-struct emit path the reference monomorphizes up to
        # 20 levels (ref: calculate_bbo.rs:115-125), under the oracle
        "ob_updates_top10": _ob_updates(10),
        # n=20 = the reference's monomorphization ceiling, on a stream whose
        # price ladder (40 per side, decoupled from is_bid) keeps more than
        # 20 live levels — truncation AT the guardrail boundary, under the
        # oracle (ref: calculate_bbo.rs:115-125)
        "ob_updates_top20_deep": _ob_updates_deep(20),
        # deep mutations/modify (r9): the add/delete backfill and modify
        # threshold paths differ from the set-level fold (update.rs:113-162
        # vs :101-105) and were driver-pinned only at n <= 3 before this
        "ob_mutations_top10_deep": _ob_mutations_deep(10),
        "ob_modify_top20_deep": _ob_modify_deep(20),
        "ob_relational_updates_top20_deep": _ob_updates_deep(20),
        "ob_chunked_mutations_top10_deep": _ob_mutations_deep(10),
        "ob_stream_keyed_mutations_top2": _ob_stream_keyed(2),
        "ob_stream_parquet_sink_top3": _ob_stream_parquet_sink(3),
        # r9: widest streaming state row x production state backend
        "ob_stream_deep_top20_rocksdb": _ob_stream_deep_rocksdb(20),
        "ob_relational_mutations_top2": _ob_mutations(2),
        "events_hourly_pivot": hq.events_hourly_pivot,
        "orders_rolling_revenue": hq.orders_rolling_revenue,
        "events_value_quantiles_approx": hq.events_value_quantiles_approx,
        "dedup_exact": _dedup_exact,
        "dedup_minhash_lsh": _dedup_minhash,
        "dedup_ngram_jaccard": _dedup_jaccard,
        "dedup_ngram_jaccard_arrays": _dedup_jaccard,
        "documents_budget_pack": _docs_budget_pack,
        "text_docfreq_score": _text_docfreq,
        "text_redact_pii": _text_redact,
        "ann_cosine_topk": _ann_bruteforce,
        "dedup_embedding": _dedup_embedding,
        "text_quality": _text_quality,
        "events_sessionize": hq.events_sessionize,
        "events_session_overlap": hq.events_session_overlap,
        "events_lead_lag": hq.events_lead_lag,
        "events_asof_purchase": _events_asof,
        "events_sessionize_stream": _events_sessionize_stream,
        "ob_mutations_top2": _ob_mutations(2),
        "ob_modify_top2": _ob_modify(2),
        "ob_keyed_mutations_top2": _ob_keyed_mutations(2),
        "q3_top_revenue_orders": hq.q3_top_revenue_orders,
        "q5_nation_revenue": hq.q5_nation_revenue,
        "part_categorize": hq.part_categorize,
    }
    # Rotation applied as an explicit reorder so the priority list is one
    # auditable block (_R10_HEAD) instead of implicit dict-literal order.
    out = {name: base[name] for name in _R10_HEAD}
    out.update({name: fn for name, fn in base.items() if name not in out})
    return out

def oracle_sql() -> dict[str, str]:
    return {
        "ob_updates_top1": bs.oracle_book_sql(bs.UPDATES_STREAM_SQL, 1, "updates"),
        "ob_updates_top3": bs.oracle_book_sql(bs.UPDATES_STREAM_SQL, 3, "updates"),
        "ob_updates_top10": bs.oracle_book_sql(bs.UPDATES_STREAM_SQL, 10, "updates"),
        "ob_updates_top20_deep": bs.oracle_book_sql(bs.DEEP_UPDATES_STREAM_SQL, 20, "updates"),
        "ob_mutations_top10_deep": bs.oracle_book_sql(bs.DEEP_MUTATIONS_STREAM_SQL, 10, "mutations"),
        "ob_modify_top20_deep": bs.oracle_book_sql(bs.DEEP_MODIFY_DELTAS_SQL, 20, "mutations"),
        "ob_relational_updates_top20_deep": bs.oracle_book_sql(bs.DEEP_UPDATES_STREAM_SQL, 20, "updates"),
        "ob_chunked_mutations_top10_deep": bs.oracle_book_sql(bs.DEEP_MUTATIONS_STREAM_SQL, 10, "mutations"),
        "ob_mutations_top2": bs.oracle_book_sql(bs.MUTATIONS_STREAM_SQL, 2, "mutations"),
        "ob_modify_top2": bs.oracle_book_sql(bs.MODIFY_DELTAS_SQL, 2, "mutations"),
        "ob_keyed_mutations_top2": bs.oracle_book_sql(
            bs.KEYED_MUTATIONS_STREAM_SQL, 2, "mutations", key="book"
        ),
        "ob_chunked_mutations_top2": bs.oracle_book_sql(bs.MUTATIONS_STREAM_SQL, 2, "mutations"),
        "ob_conversion_top2": _conversion_oracle_sql(2),
        "ob_stream_keyed_mutations_top2": bs.oracle_book_sql(
            bs.KEYED_MUTATIONS_STREAM_SQL, 2, "mutations", key="book"
        ),
        "ob_stream_parquet_sink_top3": bs.oracle_book_sql(
            bs.KEYED_MUTATIONS_STREAM_SQL, 3, "mutations", key="book"
        ),
        "ob_stream_deep_top20_rocksdb": bs.oracle_book_sql(
            bs.KEYED_DEEP_UPDATES_STREAM_SQL, 20, "updates", key="book"
        ),
        "ob_relational_mutations_top2": bs.oracle_book_sql(bs.MUTATIONS_STREAM_SQL, 2, "mutations"),
        "ob_relational_updates_top3": bs.oracle_book_sql(bs.UPDATES_STREAM_SQL, 3, "updates"),
        "ob_relational_modify_top2": bs.oracle_book_sql(bs.MODIFY_DELTAS_SQL, 2, "mutations"),
        "ob_relational_keyed_mutations_top2": bs.oracle_book_sql(
            bs.KEYED_MUTATIONS_STREAM_SQL, 2, "mutations", key="book"
        ),
        "q1_pricing_summary": hq.Q1_SQL,
        "q4_priority_count": hq.Q4_SQL,
        "q7_volume_shipping": hq.Q7_SQL,
        "q14_promo_revenue": hq.Q14_SQL,
        "q18_large_orders": hq.Q18_SQL,
        "q19_disjunctive_revenue": hq.Q19_SQL,
        "events_cohort_setops": hq.EVENTS_COHORT_SETOPS_SQL,
        "text_dup_spans": TEXT_DUP_SPANS_SQL,
        "documents_quality_filter": DOCUMENTS_QUALITY_FILTER_SQL,
        "events_stream_dropdup": EVENTS_STREAM_DROPDUP_SQL,
        "orders_merge_apply": ORDERS_MERGE_APPLY_SQL,
        "embeddings_outliers": EMBEDDINGS_OUTLIERS_SQL,
        "orders_merge_stream": ORDERS_MERGE_APPLY_SQL,
        "q13_customer_distribution": hq.Q13_SQL,
        "q15_top_supplier": hq.Q15_SQL,
        "q22_dormant_customers": hq.Q22_SQL,
        "q2_min_cost_supplier": hq.Q2_SQL,
        "q8_market_share": hq.Q8_SQL,
        "q9_product_profit": hq.Q9_SQL,
        "q11_important_parts": hq.Q11_SQL,
        "q12_late_shipments": hq.Q12_SQL,
        "q16_supplier_variety": hq.Q16_SQL,
        "q17_small_qty_revenue": hq.Q17_SQL,
        "q20_concentrated_suppliers": hq.Q20_SQL,
        "q21_waiting_suppliers": hq.Q21_SQL,
        "events_attribution_stream": EVENTS_ATTRIBUTION_STREAM_SQL,
        "documents_stratified_sample": STRATIFIED_SAMPLE_SQL,
        "events_value_deciles": hq.EVENTS_DECILES_SQL,
        "events_grouping_sets": hq.EVENTS_GROUPING_SETS_SQL,
        "supplier_pagerank": _supplier_pagerank_sql(),
        "events_user_profile_stream": EVENTS_USER_PROFILE_STREAM_SQL,
        "part_snapshot_diff": PART_SNAPSHOT_DIFF_SQL,
        "events_attribution_stream_outer": EVENTS_ATTRIBUTION_OUTER_SQL,
        "ob_nbbo_keyed": _ob_nbbo_sql(),
        "ob_vwap_buckets": OB_VWAP_SQL,
        "ob_l1_metrics": _ob_l1_metrics_sql(),
        "ob_realized_variance": _ob_realized_variance_sql(),
        "ob_ofi": _ob_ofi_sql(),
        "ob_ohlc_bars": _ob_ohlc_sql(),
        "events_ols_trend": hq.EVENTS_OLS_TREND_SQL,
        "events_markov_transitions": hq.EVENTS_MARKOV_SQL,
        "events_anomaly_zscore": hq.EVENTS_ANOMALY_SQL,
        "events_interpolate_daily": hq.EVENTS_INTERPOLATE_SQL,
        "documents_weighted_sample": _docs_weighted_sample_sql(),
        "documents_fuzzy_pairs": DOCS_FUZZY_PAIRS_SQL,
        # identical output contract via the segment-pigeonhole strategy —
        # the oracle is an OUTPUT spec (block + bucket-adjacency admission
        # + levenshtein), shared verbatim
        "documents_fuzzy_pairs_segments": DOCS_FUZZY_PAIRS_SQL,
        "documents_fuzzy_pairs_segments_tau3": _docs_fuzzy_pairs_sql(3),
        "part_triangle_counts": PART_TRIANGLES_SQL,
        "ob_depth_profile": _ob_depth_profile_sql(),
        "supplier_similarity": SUPPLIER_SIMILARITY_SQL,
        "ann_recall_lsh": ANN_RECALL_LSH_SQL,
        "events_winsorize": hq.EVENTS_WINSORIZE_SQL,
        "orders_orc_roundtrip": ORC_ROUNDTRIP_SQL,
        "events_pattern_3grams": hq.EVENTS_PATTERN_3GRAMS_SQL,
        "documents_chunks": DOCS_CHUNKS_SQL,
        "documents_hash_embed_knn": _docs_hash_embed_knn_sql(),
        "embeddings_kmeans_step": _embeddings_kmeans_step_sql(),
        "ob_nbbo_keyed_chunked": _ob_nbbo_sql(),
        "ob_nbbo_keyed_bounded": _ob_nbbo_sql(),
        "events_user_distinct_sketch_rollup": hq.EVENTS_SKETCH_ROLLUP_SQL,
        "events_heavy_hitters": EVENTS_HEAVY_HITTERS_SQL,
        "events_heavy_hitters_by_type": EVENTS_HEAVY_HITTERS_BY_TYPE_SQL,
        "events_heavy_hitters_abs": EVENTS_HEAVY_HITTERS_ABS_SQL,
        "events_heavy_hitters_windowed": EVENTS_HEAVY_HITTERS_WINDOWED_SQL,
        "events_heavy_hitters_stream": EVENTS_HEAVY_HITTERS_STREAM_SQL,
        "events_heavy_hitters_stream_abs": EVENTS_HEAVY_HITTERS_STREAM_ABS_SQL,
        "text_bm25": TEXT_BM25_SQL,
        "documents_hybrid_search": _docs_hybrid_search_sql(),
        "documents_wordfreq_stream": DOCS_WORDFREQ_STREAM_SQL,
        "documents_temperature_mix": _docs_temperature_mix_sql(),
        "embeddings_semdedup": _embeddings_semdedup_sql(),
        "documents_split_assign": _docs_split_assign_sql(),
        "documents_lm_score": DOCS_LM_SCORE_SQL,
        "embeddings_knn_graph": EMBEDDINGS_KNN_GRAPH_SQL,
        "embeddings_knn_graph_wide": EMBEDDINGS_KNN_GRAPH_WIDE_SQL,
        "embeddings_ann_stream": EMBEDDINGS_ANN_STREAM_SQL,
        "text_dup_span_cuts": TEXT_DUP_SPAN_CUTS_SQL,
        "documents_dsir_weights": DOCS_DSIR_WEIGHTS_SQL,
        "embeddings_semdedup_incremental": _embeddings_semdedup_incremental_sql(),
        "text_apply_span_cuts": TEXT_APPLY_SPAN_CUTS_SQL,
        "embeddings_random_projection": _embeddings_random_projection_sql(),
        "embeddings_pq_codes": EMBEDDINGS_PQ_CODES_SQL,
        "embeddings_pq_topk": EMBEDDINGS_PQ_TOPK_SQL,
        "documents_gopher_rules": DOCS_GOPHER_RULES_SQL,
        "documents_ngram_novelty": DOCS_NGRAM_NOVELTY_SQL,
        "documents_curriculum_order": _docs_curriculum_order_sql(),
        "embeddings_kmeans_train": _embeddings_kmeans_train_sql(),
        "embeddings_pq_ivf_topk": EMBEDDINGS_PQ_IVF_TOPK_SQL,
        "ann_recall_pq": ANN_RECALL_PQ_SQL,
        "embeddings_pq_ivf_residual_topk": EMBEDDINGS_PQ_IVF_RESIDUAL_SQL,
        "ann_recall_pq_residual": ANN_RECALL_PQ_RESIDUAL_SQL,
        "embeddings_pq_trained_topk": _pq_trained_sql(),
        "ann_recall_pq_trained": _ann_recall_pq_trained_sql(),
        "events_countmin_rollup": EVENTS_COUNTMIN_SQL,
        "orders_bloom_semijoin": ORDERS_BLOOM_SEMIJOIN_SQL,
        "documents_oov_rate": DOCUMENTS_OOV_RATE_SQL,
        "text_postings": TEXT_POSTINGS_SQL,
        "events_item_cooccurrence": EVENTS_ITEM_COOC_SQL,
        "events_top_similar_items": EVENTS_TOP_SIMILAR_SQL,
        "orders_incremental_agg": ORDERS_INCREMENTAL_AGG_SQL,
        "orders_incremental_join": ORDERS_INCREMENTAL_JOIN_SQL,
        "orders_join_view_stream": ORDERS_INCREMENTAL_JOIN_SQL,
        "orders_retraction_agg": ORDERS_RETRACTION_AGG_SQL,
        "ann_hamming_rerank": ANN_HAMMING_RERANK_SQL,
        "events_hll_rollup": EVENTS_HLL_ROLLUP_SQL,
        "events_quantile_histogram": EVENTS_QUANTILE_HISTOGRAM_SQL,
        "events_quantiles_exact_by_type": EVENTS_QUANTILES_BY_TYPE_SQL,
        "events_quantiles_exact_twopass": EVENTS_QUANTILES_TWOPASS_SQL,
        "documents_token_weighted_length": DOCUMENTS_TOKEN_WEIGHTED_LENGTH_SQL,
        "events_selfjoin_size": EVENTS_SELFJOIN_SIZE_SQL,
        "documents_pmi_keywords": DOCUMENTS_PMI_SQL,
        "documents_zipf_profile": DOCUMENTS_ZIPF_SQL,
        # the streaming fold must converge to the same full recompute as the
        # batch operator — deliberately the identical oracle
        "orders_rollup_stream": ORDERS_INCREMENTAL_AGG_SQL,
        "events_reservoir_sample": EVENTS_RESERVOIR_SQL,
        "events_theil_sen": EVENTS_THEIL_SEN_SQL,
        "documents_pareto_frontier": DOCS_PARETO_FRONTIER_SQL,
        "events_acf": EVENTS_ACF_SQL,
        "events_ccf": EVENTS_CCF_SQL,
        "events_sliding_active_users": EVENTS_SLIDING_ACTIVE_SQL,
        "events_time_decay": EVENTS_TIME_DECAY_SQL,
        "events_negative_samples": EVENTS_NEGATIVE_SAMPLES_SQL,
        "embeddings_hard_negatives": EMBEDDINGS_HARD_NEGATIVES_SQL,
        "ann_eval_mrr": ANN_EVAL_MRR_SQL,
        "ann_recall_dims": ANN_RECALL_DIMS_SQL,
        "events_k_anonymity": hq.EVENTS_K_ANONYMITY_SQL,
        "events_sliding_stream": EVENTS_SLIDING_STREAM_SQL,
        "events_user_type_history": EVENTS_USER_TYPE_HISTORY_SQL,
        "events_late_arrivals": EVENTS_LATE_ARRIVALS_SQL,
        "events_debounced": EVENTS_DEBOUNCED_SQL,
        "documents_quality_percentile": hq.DOCS_QUALITY_PERCENTILE_SQL,
        "documents_split_contamination": _docs_split_contamination_sql(),
        "events_value_drift": EVENTS_VALUE_DRIFT_SQL,
        "embeddings_centroid_drift": EMBEDDINGS_CENTROID_DRIFT_SQL,
        # the streaming monitor's final state must equal the batch
        # recompute: the oracle is events_value_drift's SQL, verbatim
        "events_drift_stream": EVENTS_VALUE_DRIFT_SQL,
        "sink_schema_evolution": SINK_SCHEMA_EVOLUTION_SQL,
        "documents_bpe_fertility": DOCS_BPE_FERTILITY_SQL,
        "documents_classifier_step": _docs_classifier_step_sql(),
        "documents_classifier_score": _docs_classifier_score_sql(),
        "documents_classifier_reliability": _docs_classifier_reliability_sql(),
        "ob_book_asof": _ob_book_asof_sql(),
        "ann_mmr_rerank": _ann_mmr_sql(),
        "dedup_recall_banding": _dedup_recall_banding_sql(),
        "documents_leakage_split": _docs_leakage_split_sql(),
        "documents_lm_heldout": _docs_lm_heldout_sql(),
        "embeddings_covariance": linalg.covariance_matrix_sql(dim=16),
        "documents_classifier_stream": _docs_classifier_score_sql(),
        "events_anomaly_mad": hq.EVENTS_ANOMALY_MAD_SQL,
        "documents_char_entropy": hq.DOCS_CHAR_ENTROPY_SQL,
        "documents_quality_correlation": hq.DOCS_QUALITY_CORR_SQL,
        "documents_bpe_pair_counts": DOCS_BPE_PAIR_COUNTS_SQL,
        "documents_bpe_tokens": DOCS_BPE_TOKENS_SQL,
        "documents_bpe_train_distributed": DOCS_BPE_TRAIN_DISTRIBUTED_SQL,
        "documents_unigram_vocab": DOCS_UNIGRAM_VOCAB_SQL,
        "documents_unigram_tokens": DOCS_UNIGRAM_TOKENS_SQL,
        "documents_unigram_em_vocab": _unigram_em_sql(2, "vocab"),
        "documents_unigram_em_tokens": _unigram_em_sql(2, "tokens"),
        "dedup_incremental": _minhash_incremental_sql(),
        "orders_quality_report": ORDERS_QUALITY_SQL,
        "events_funnel": hq.EVENTS_FUNNEL_SQL,
        "events_retention_cohorts": hq.EVENTS_RETENTION_SQL,
        "events_hourly_stream_append": EVENTS_HOURLY_STREAM_APPEND_SQL,
        "events_enriched_stream": EVENTS_ENRICHED_STREAM_SQL,
        "bookgen_source_agg": _bookgen_source_agg_sql(),
        "documents_sentences": hq.DOCUMENTS_SENTENCES_SQL,
        "events_props_variant": hq.EVENTS_PROPS_VARIANT_SQL,
        "events_pseudonymize": hq.EVENTS_PSEUDONYMIZE_SQL,
        "documents_curation_pipeline": DOCUMENTS_CURATION_PIPELINE_SQL,
        "events_asof_next_purchase": EVENTS_ASOF_FORWARD_SQL,
        "part_unpivot_metrics": PART_UNPIVOT_SQL,
        "events_user_type_profile": hq.EVENTS_USER_TYPE_PROFILE_SQL,
        "q3_top_revenue_orders": hq.Q3_SQL,
        "q5_nation_revenue": hq.Q5_SQL,
        "q10_returned_items": hq.Q10_SQL,
        "events_props_json": hq.EVENTS_PROPS_JSON_SQL,
        "topk_orders_per_customer": hq.TOPK_ORDERS_SQL,
        "customers_without_orders": hq.CUSTOMERS_WITHOUT_ORDERS_SQL,
        "part_categorize": hq.PART_CATEGORIZE_SQL,
        "events_hourly": hq.EVENTS_HOURLY_SQL,
        "events_user_running_total": hq.EVENTS_RUNNING_SQL,
        "events_sessionize": hq.EVENTS_SESSIONS_SQL,
        "events_session_overlap": hq.EVENTS_SESSION_OVERLAP_SQL,
        "events_rollup": hq.EVENTS_ROLLUP_SQL,
        "events_hourly_pivot": hq.EVENTS_HOURLY_PIVOT_SQL,
        "orders_rolling_revenue": hq.ORDERS_ROLLING_REVENUE_SQL,
        "events_value_quantiles": hq.EVENTS_QUANTILES_SQL,
        "events_value_quantiles_approx": hq.EVENTS_QUANTILES_APPROX_SQL,
        "events_user_distinct_approx": hq.EVENTS_DISTINCT_APPROX_SQL,
        "events_asof_purchase": EVENTS_ASOF_SQL,
        "events_lead_lag": hq.EVENTS_LEAD_LAG_SQL,
        "events_sessionize_stream": EVENTS_SESSIONS_STREAM_SQL,
        "events_sessionize_stream_append": EVENTS_SESSIONS_STREAM_APPEND_SQL,
        "ob_consistency_n1_n2": _ob_consistency_sql(),
        "sink_roundtrip": SINK_ROUNDTRIP_SQL,
        "sink_bucketed_join": hq.SINK_BUCKETED_JOIN_SQL,
        "sink_compaction": SINK_COMPACTION_SQL,
        "dedup_stream_survivors": DEDUP_STREAM_SQL,
        "events_csv_roundtrip": EVENTS_CSV_ROUNDTRIP_SQL,
        "embeddings_quantize_int8": EMBEDDINGS_QUANTIZE_SQL,
        "documents_pack_sequences": PACK_SEQUENCES_SQL,
        "part_hconcat": PART_HCONCAT_SQL,
        "events_jsonl_roundtrip": EVENTS_JSONL_ROUNDTRIP_SQL,
        "documents_profile": DOCUMENTS_PROFILE_SQL,
        "events_zorder_key": _events_zorder_sql(),
        "text_clean": TEXT_CLEAN_SQL,
        "documents_category_index": CATEGORY_INDEX_SQL,
        "dedup_exact": DEDUP_EXACT_SQL,
        "dedup_minhash_lsh": _minhash_sql(),
        "dedup_simhash": SIMHASH_SQL,
        "dedup_ngram_jaccard": JACCARD_SQL,
        "dedup_ngram_jaccard_arrays": JACCARD_SQL,
        "dedup_components": _components_sql(),
        "dedup_components_prop": _components_sql(),
        "dedup_components_star": _components_sql(),
        "documents_deduped": _documents_deduped_sql(),
        "documents_hash_sample": HASH_SAMPLE_SQL,
        "documents_domain_mix": DOMAIN_MIX_SQL,
        "documents_budget_pack": BUDGET_PACK_SQL,
        "text_docfreq_score": TEXT_DOCFREQ_SQL,
        "text_redact_pii": _redact_sql(),
        "ann_cosine_topk": ANN_SQL,
        "ann_cosine_topk_lsh": ANN_LSH_SQL,
        "ann_cosine_topk_blas": ANN_BLAS_SQL,
        "ann_cosine_topk_ivf": ANN_IVF_SQL,
        "dedup_embedding": DEDUP_EMBEDDING_SQL,
        "text_quality": TEXT_QUALITY_SQL,
        "text_lang_id": TEXT_LANG_SQL,
        "text_fingerprint": TEXT_FINGERPRINT_SQL,
        "text_winnow_fingerprints": TEXT_WINNOW_SQL,
        "text_vocabulary": TEXT_VOCABULARY_SQL,
        "text_tfidf": TEXT_TFIDF_SQL,
        "text_token_counts": TEXT_TOKENS_SQL,
        "text_repetition": TEXT_REPETITION_SQL,
        "text_contamination": TEXT_CONTAMINATION_SQL,
        "multimodal_features": MULTIMODAL_SQL,
        "multimodal_frame_sample": FRAME_SAMPLE_SQL,
        "multimodal_resize": MULTIMODAL_RESIZE_SQL,
        "multimodal_audio_features": MULTIMODAL_AUDIO_SQL,
        "orders_price_bands": ORDERS_PRICE_BANDS_SQL,
        "q6_forecast_revenue": hq.Q6_SQL,
        "supplier_nation_summary": hq.SUPPLIER_NATION_SQL,
    }
