"""Deterministic order-book event streams derived from the driver's ``events``
table, mirrored 1:1 by SQL fragments for the DuckDB oracle.

The driver's testdata has no native order-book table, so correctness checking
derives one deterministically: the SAME arithmetic runs in Spark (DataFrame
API) and in the oracle SQL, so any result divergence is the operator's fault,
never the data's. Semantics of each shape follow FIXTURES.md §1.

Validity by construction:
* updates  — set-level events are always valid regardless of history.
* mutations — strictly positive deltas (adds only); deletes are covered by the
  golden pytest suite where validity needs curated sequences.
* modify   — each user maintains exactly one resting order of qty 1 and every
  event moves it (prev = lag(price) over the user's history), so the deleted
  level always holds the deleted qty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_PRICES = 20


def updates_stream(events: DataFrame) -> DataFrame:
    """Snapshot-set events: qty 0..6 (0 = delete level)."""
    return events.select(
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 2 == 0).alias("is_bid"),
        (F.col("user_id") % N_PRICES + 1).alias("price"),
        (F.floor("value").cast("long") % 7).alias("qty"),
    )


UPDATES_STREAM_SQL = f"""
    SELECT event_id AS seq,
           user_id % 2 = 0 AS is_bid,
           user_id % {N_PRICES} + 1 AS price,
           CAST(floor(value) AS BIGINT) % 7 AS qty
    FROM events
"""

# Deep-book variant: ``updates_stream`` ties price parity to ``is_bid``
# (user_id drives both), so each side sees only N_PRICES/2 = 10 distinct
# prices and n=10 already emits the full side. The reference monomorphizes
# its snapshot structs up to 20 levels (ref: calculate_bbo.rs:115-125); to
# pin truncation AT n=20 the stream below decouples side from price
# (is_bid from event_id parity, price mixes user_id and event_id over a
# 40-value ladder) so every side carries up to 40 live levels.
N_DEEP_PRICES = 40


def deep_updates_stream(events: DataFrame) -> DataFrame:
    """Snapshot-set events over a 40-price ladder per side (deep book)."""
    return events.select(
        F.col("event_id").alias("seq"),
        (F.col("event_id") % 2 == 0).alias("is_bid"),
        ((F.col("user_id") * 7 + F.col("event_id")) % N_DEEP_PRICES + 1).alias("price"),
        (F.floor("value").cast("long") % 7).alias("qty"),
    )


DEEP_UPDATES_STREAM_SQL = f"""
    SELECT event_id AS seq,
           event_id % 2 = 0 AS is_bid,
           (user_id * 7 + event_id) % {N_DEEP_PRICES} + 1 AS price,
           CAST(floor(value) AS BIGINT) % 7 AS qty
    FROM events
"""


def deep_mutations_stream(events: DataFrame) -> DataFrame:
    """Signed-delta events over a 40-price ladder per side (deep book),
    valid by construction: each user's events alternate add(+q)/delete(−q)
    in pairs at the SAME (side, price, |q|) — the conversion_raw pairing —
    so every delete removes exactly the qty its paired add created. Unlike
    ``mutations_stream`` (adds-only, 10 prices/side) this exercises the
    add/delete emit + nth-best backfill paths (ref: update.rs:113-123,
    calculate_bbo.rs:190-214) on a book deeper than n=10: with hundreds of
    concurrent resting adds spread over 40 prices per side, most of the
    ladder is live at any seq and top-10 genuinely truncates."""
    w = Window.partitionBy("user_id").orderBy("seq")
    base = events.select(F.col("event_id").alias("seq"), F.col("user_id"))
    base = base.withColumn("occ", F.row_number().over(w) - 1)
    base = base.withColumn("pair", F.floor(F.col("occ") / 2).cast("long"))
    mag = (F.col("user_id") + F.col("pair")) % 5 + 1
    return base.select(
        "seq",
        (F.col("user_id") % 2 == 0).alias("is_bid"),
        ((F.col("user_id") * 7 + F.col("pair")) % N_DEEP_PRICES + 1).alias("price"),
        F.when(F.col("occ") % 2 == 1, -mag).otherwise(mag).cast("long").alias("qty"),
    )


DEEP_MUTATIONS_STREAM_SQL = f"""
    SELECT seq,
           user_id % 2 = 0 AS is_bid,
           (user_id * 7 + (occ // 2)) % {N_DEEP_PRICES} + 1 AS price,
           CAST(CASE WHEN occ % 2 = 1 THEN -((user_id + (occ // 2)) % 5 + 1)
                     ELSE (user_id + (occ // 2)) % 5 + 1 END AS BIGINT) AS qty
    FROM (
        SELECT event_id AS seq, user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS occ
        FROM events
    )
"""


def mutations_stream(events: DataFrame) -> DataFrame:
    """Signed-delta events, adds only (1..5)."""
    return events.select(
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 2 == 0).alias("is_bid"),
        (F.col("user_id") % N_PRICES + 1).alias("price"),
        (F.floor("value").cast("long") % 5 + 1).alias("qty"),
    )


MUTATIONS_STREAM_SQL = f"""
    SELECT event_id AS seq,
           user_id % 2 = 0 AS is_bid,
           user_id % {N_PRICES} + 1 AS price,
           CAST(floor(value) AS BIGINT) % 5 + 1 AS qty
    FROM events
"""


def modify_stream(events: DataFrame) -> DataFrame:
    """Order-move events: user u's order (qty 1) walks the price ladder; the
    previous location comes from lag() over the user's own event history."""
    w = Window.partitionBy("user_id").orderBy("seq")
    base = events.select(
        F.col("event_id").alias("seq"),
        F.col("user_id"),
        (F.col("user_id") % 2 == 0).alias("is_bid"),
        ((F.col("user_id") + F.col("event_id")) % N_PRICES + 1).alias("price"),
        F.lit(1).cast("long").alias("qty"),
    )
    return base.select(
        "seq",
        "is_bid",
        "price",
        "qty",
        F.lag("price").over(w).alias("prev_price"),
        F.when(F.lag("price").over(w).isNotNull(), F.lit(1).cast("long")).alias("prev_qty"),
    )


MODIFY_STREAM_SQL = f"""
    SELECT seq, is_bid, price, qty,
           lag(price) OVER w AS prev_price,
           CASE WHEN lag(price) OVER w IS NOT NULL THEN CAST(1 AS BIGINT) END AS prev_qty
    FROM (
        SELECT event_id AS seq,
               user_id,
               user_id % 2 = 0 AS is_bid,
               (user_id + event_id) % {N_PRICES} + 1 AS price,
               CAST(1 AS BIGINT) AS qty
        FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY seq)
"""


def deep_modify_stream(events: DataFrame) -> DataFrame:
    """Order-move events over a 40-price ladder per side (deep book): like
    ``modify_stream`` each user maintains exactly one resting qty-1 order
    and every event moves it (prev = lag over the user's history), but the
    ladder spans ``N_DEEP_PRICES`` so hundreds of concurrent resting orders
    keep most of the 40 prices per side live — the modify threshold check
    (both touched prices vs the nth best, ref: calculate_bbo.rs:243-267)
    and the two-legged delete+add emit run against a book that genuinely
    truncates at n=20, where ``modify_stream``'s 20-price ladder never
    exceeds 10 live prices per side."""
    w = Window.partitionBy("user_id").orderBy("seq")
    base = events.select(
        F.col("event_id").alias("seq"),
        F.col("user_id"),
        (F.col("user_id") % 2 == 0).alias("is_bid"),
        ((F.col("user_id") * 3 + F.col("event_id")) % N_DEEP_PRICES + 1).alias("price"),
        F.lit(1).cast("long").alias("qty"),
    )
    return base.select(
        "seq",
        "is_bid",
        "price",
        "qty",
        F.lag("price").over(w).alias("prev_price"),
        F.when(F.lag("price").over(w).isNotNull(), F.lit(1).cast("long")).alias("prev_qty"),
    )


DEEP_MODIFY_STREAM_SQL = f"""
    SELECT seq, is_bid, price, qty,
           lag(price) OVER w AS prev_price,
           CASE WHEN lag(price) OVER w IS NOT NULL THEN CAST(1 AS BIGINT) END AS prev_qty
    FROM (
        SELECT event_id AS seq,
               user_id,
               user_id % 2 = 0 AS is_bid,
               (user_id * 3 + event_id) % {N_DEEP_PRICES} + 1 AS price,
               CAST(1 AS BIGINT) AS qty
        FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY seq)
"""


def keyed_mutations_stream(events: DataFrame) -> DataFrame:
    """Mutations stream with a 7-way book key (7 is odd, so every book sees
    both bid and ask users) — drives the multi-book / streaming paths."""
    return events.select(
        (F.col("user_id") % 7).alias("book"),
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 2 == 0).alias("is_bid"),
        (F.col("user_id") % N_PRICES + 1).alias("price"),
        (F.floor("value").cast("long") % 5 + 1).alias("qty"),
    )


KEYED_MUTATIONS_STREAM_SQL = f"""
    SELECT user_id % 7 AS book,
           event_id AS seq,
           user_id % 2 = 0 AS is_bid,
           user_id % {N_PRICES} + 1 AS price,
           CAST(floor(value) AS BIGINT) % 5 + 1 AS qty
    FROM events
"""


def keyed_deep_updates_stream(events: DataFrame) -> DataFrame:
    """Deep updates stream with a 5-way book key: each book sees both sides
    (is_bid from event parity) and the full 40-price ladder (price mixes
    user_id and event_id), so a keyed streaming top-20 genuinely truncates
    per book — the widest per-key state row the streaming fold carries."""
    return events.select(
        (F.col("user_id") % 5).alias("book"),
        F.col("event_id").alias("seq"),
        (F.col("event_id") % 2 == 0).alias("is_bid"),
        ((F.col("user_id") * 7 + F.col("event_id")) % N_DEEP_PRICES + 1).alias("price"),
        (F.floor("value").cast("long") % 7).alias("qty"),
    )


KEYED_DEEP_UPDATES_STREAM_SQL = f"""
    SELECT user_id % 5 AS book,
           event_id AS seq,
           event_id % 2 = 0 AS is_bid,
           (user_id * 7 + event_id) % {N_DEEP_PRICES} + 1 AS price,
           CAST(floor(value) AS BIGINT) % 7 AS qty
    FROM events
"""


def conversion_raw_stream(events: DataFrame) -> DataFrame:
    """Raw exchange-style messages (ref: README.md:131-162): string ``side``,
    float ``price_f``, ``message_type`` with delete-as-'Trade'. Each user's
    events alternate Add/Trade per (user, pair) so every delete removes
    exactly the qty its paired add created — valid by construction."""
    w = Window.partitionBy("user_id").orderBy("seq")
    base = events.select(
        F.col("event_id").alias("seq"),
        F.col("user_id"),
    )
    occ = F.row_number().over(w) - 1
    base = base.withColumn("occ", occ)
    # occ is a non-negative int, so floor-div by 2 is exact; a column
    # expression (not a string expr) keeps resolution order-independent.
    base = base.withColumn("pair", F.floor(F.col("occ") / 2).cast("long"))
    return base.select(
        "seq",
        F.when(F.col("user_id") % 2 == 0, F.lit("BID")).otherwise(F.lit("ASK")).alias("side"),
        (((F.col("user_id") + F.col("pair")) % N_PRICES + 1) * F.lit(0.5)).alias("price_f"),
        F.when(F.col("occ") % 2 == 1, F.lit("Trade")).otherwise(F.lit("Add")).alias("message_type"),
        ((F.col("user_id") + F.col("pair")) % 3 + 1).cast("long").alias("qty"),
    )


CONVERSION_RAW_SQL = f"""
    SELECT seq,
           CASE WHEN user_id % 2 = 0 THEN 'BID' ELSE 'ASK' END AS side,
           ((user_id + (occ // 2)) % {N_PRICES} + 1) * 0.5 AS price_f,
           CASE WHEN occ % 2 = 1 THEN 'Trade' ELSE 'Add' END AS message_type,
           CAST((user_id + (occ // 2)) % 3 + 1 AS BIGINT) AS qty
    FROM (
        SELECT event_id AS seq, user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS occ
        FROM events
    )
"""

# The conversion recipe applied in SQL — mirrors functions.conversion
# (side_to_is_bid / scale_price / signed_qty) for the oracle.
CONVERSION_DELTAS_SQL = f"""
    SELECT seq,
           lower(side) IN ('bid', 'b', 'buy') AS is_bid,
           CAST(round(price_f * 100) AS BIGINT) AS price,
           CAST(CASE WHEN lower(message_type) IN ('delete', 'trade') THEN -qty ELSE qty END AS BIGINT) AS qty
    FROM ({CONVERSION_RAW_SQL})
"""


def oracle_book_sql(stream_sql: str, n: int, variant: str, key: str | None = None) -> str:
    """DuckDB SQL computing top-N snapshots for a derived stream, written
    independently of the fold: running aggregate per (side, price) on an
    events × touched-levels grid, side-aware rank, pivot to 4·n cols.

    ``variant``: 'mutations' (running SUM) or 'updates' (running LAST ignore
    nulls). Output: [key,] seq + bid_price_i/bid_qty_i/ask_price_i/ask_qty_i.
    ``key`` names an optional book-key column present in the stream SQL.
    """
    kpart = f"g.{key}, " if key else ""
    if variant == "mutations":
        # CAST: DuckDB's bare integer sum() yields HUGEINT, which fetchdf
        # renders as float64 and breaks the driver's value-hash vs Spark int64.
        running = (
            f"CAST(sum(coalesce(d.qty, 0)) OVER "
            f"(PARTITION BY {kpart}g.is_bid, g.price ORDER BY g.seq) AS BIGINT)"
        )
    elif variant == "updates":
        running = f"last_value(d.qty IGNORE NULLS) OVER (PARTITION BY {kpart}g.is_bid, g.price ORDER BY g.seq)"
    else:
        raise ValueError(variant)
    pivots = []
    for i in range(1, n + 1):
        pivots.append(
            f"max(CASE WHEN rn = {i} AND is_bid THEN price END) AS bid_price_{i},\n"
            f"           max(CASE WHEN rn = {i} AND is_bid THEN level_qty END) AS bid_qty_{i},\n"
            f"           max(CASE WHEN rn = {i} AND NOT is_bid THEN price END) AS ask_price_{i},\n"
            f"           max(CASE WHEN rn = {i} AND NOT is_bid THEN level_qty END) AS ask_qty_{i}"
        )
    pivot_sql = ",\n           ".join(pivots)
    k = f"{key}, " if key else ""
    if variant == "mutations":
        # Collapse multi-delta events on one level (same-price modify) so the
        # grid join stays 1:1.
        stream_cte = ("raw AS ({}),\n"
                      "stream AS (SELECT {}seq, is_bid, price, CAST(sum(qty) AS BIGINT) AS qty "
                      "FROM raw GROUP BY {}seq, is_bid, price)").format(stream_sql, k, k)
    else:
        stream_cte = f"stream AS ({stream_sql})"
    grid_join = f"s.{key} = l.{key}" if key else "TRUE"
    d_key = f"d.{key} = g.{key} AND " if key else ""
    snap_cols = ", ".join(
        c for i in range(1, n + 1)
        for c in (f"bid_price_{i}", f"bid_qty_{i}", f"ask_price_{i}", f"ask_qty_{i}")
    )
    using = f"({key}, seq)" if key else "(seq)"
    sel_k = f"s.{key}, " if key else ""
    return f"""
WITH {stream_cte},
seqs AS (SELECT DISTINCT {k}seq FROM stream),
levels AS (SELECT DISTINCT {k}is_bid, price FROM stream),
grid AS (SELECT s.seq, {('l.' + key + ', ') if key else ''}l.is_bid, l.price
         FROM seqs s JOIN levels l ON {grid_join}),
filled AS (
    SELECT {('g.' + key + ', ') if key else ''}g.seq, g.is_bid, g.price,
           {running} AS level_qty
    FROM grid g
    LEFT JOIN stream d ON {d_key}d.seq = g.seq AND d.is_bid = g.is_bid AND d.price = g.price
),
booked AS (
    SELECT {k}seq, is_bid, price, level_qty,
           row_number() OVER (
               PARTITION BY {k}seq, is_bid
               ORDER BY CASE WHEN is_bid THEN -price ELSE price END
           ) AS rn
    FROM filled
    WHERE level_qty > 0
),
snaps AS (
    SELECT {k}seq,
           {pivot_sql}
    FROM booked
    GROUP BY {k}seq
)
SELECT {sel_k}s.seq, {snap_cols}
FROM seqs s LEFT JOIN snaps USING {using}
"""


MODIFY_DELTAS_SQL = f"""
    SELECT seq, is_bid, d_price AS price, d_qty AS qty
    FROM (
        SELECT seq, is_bid, price AS d_price, qty AS d_qty FROM ({MODIFY_STREAM_SQL})
        UNION ALL
        SELECT seq, is_bid, prev_price AS d_price, -prev_qty AS d_qty
        FROM ({MODIFY_STREAM_SQL}) WHERE prev_price IS NOT NULL
    )
"""

DEEP_MODIFY_DELTAS_SQL = f"""
    SELECT seq, is_bid, d_price AS price, d_qty AS qty
    FROM (
        SELECT seq, is_bid, price AS d_price, qty AS d_qty FROM ({DEEP_MODIFY_STREAM_SQL})
        UNION ALL
        SELECT seq, is_bid, prev_price AS d_price, -prev_qty AS d_qty
        FROM ({DEEP_MODIFY_STREAM_SQL}) WHERE prev_price IS NOT NULL
    )
"""
