"""Golden tests ported from the reference's authoritative test layer
(ref: polars_order_book/tests/test_calculate_bbo.py, README.md examples),
via FIXTURES.md §3. Inputs and expected frames are engine-agnostic."""

import pytest

from pyspark.sql.types import (
    BooleanType, LongType, StructField, StructType,
)

from polars_order_book_spark import (
    top_n_levels_from_price_updates,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_mutations_with_modify,
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


def snap(df, cols, seq="seq"):
    out = {}
    for r in df.collect():
        d = r.asDict()
        out[d[seq]] = tuple(d[c] for c in cols)
    return [out[k] for k in sorted(out)]


def test_updates_golden_readme1(spark):
    """FIXTURES 3.1 (ref: README.md:20-50), n=2."""
    rows = [(1, True, 1, 100), (2, True, 2, 200), (3, False, 4, 400),
            (4, False, 5, 500), (5, True, 2, 250), (6, True, 2, 0)]
    df = spark.createDataFrame(rows, SCHEMA3)
    out = top_n_levels_from_price_updates(df, n=2)
    got = snap(out, ["bid_price_1", "bid_price_2", "bid_qty_1", "bid_qty_2",
                     "ask_price_1", "ask_price_2", "ask_qty_1", "ask_qty_2"])
    assert got[-1] == (1, None, 100, None, 4, 5, 400, 500)
    # row 5: level 2 set to 250 -> best bid (2, 250)
    assert got[4][:4] == (2, 1, 250, 100)


def test_mutations_golden_readme2(spark):
    """FIXTURES 3.2 (ref: README.md:55-83), n=2."""
    rows = [(1, True, 1, 100), (2, True, 2, 200), (3, False, 4, 400),
            (4, False, 5, 500), (5, True, 2, 50), (6, True, 2, -250)]
    df = spark.createDataFrame(rows, SCHEMA3)
    out = top_n_levels_from_price_mutations(df, n=2)
    got = snap(out, ["bid_price_1", "bid_qty_1", "bid_price_2", "bid_qty_2"])
    assert got[4] == (2, 250, 1, 100)   # add 50 onto level 2
    assert got[5] == (1, 100, None, None)  # level 2 fully deleted


def test_modify_golden_readme3(spark):
    """FIXTURES 3.3 (ref: README.md:88-120): ladder walk, one level per side."""
    rows = [
        (1, True, 1, 10, None, None), (2, False, 6, 60, None, None),
        (3, True, 2, 10, 1, 10), (4, False, 5, 60, 6, 60),
        (5, True, 3, 10, 2, 10), (6, False, 4, 60, 5, 60),
    ]
    df = spark.createDataFrame(rows, SCHEMA5)
    out = top_n_levels_from_price_mutations_with_modify(
        df, prev_price="prev_price", prev_qty="prev_qty", n=1)
    got = snap(out, ["bid_price_1", "ask_price_1", "bid_qty_1", "ask_qty_1"])
    assert [g[0] for g in got] == [1, 1, 2, 2, 3, 3]
    assert [g[1] for g in got] == [None, 6, 6, 5, 5, 4]
    assert all(g[2] == 10 for g in got)


CYCLE_PRICES = [1, 2, 3, 6, 5, 4, 3, 1, 2, 5, 4, 6]
CYCLE_IS_BID = [True] * 3 + [False] * 3 + [True] * 3 + [False] * 3
CYCLE_UPD_QTY = [1, 2, 3, 6, 5, 4, 0, 0, 0, 0, 0, 0]
CYCLE_MUT_QTY = [1, 2, 3, 6, 5, 4, -3, -1, -2, -5, -4, -6]
CYCLE_EXP_BID = [1, 2, 3, 3, 3, 3, 2, 2, None, None, None, None]
CYCLE_EXP_ASK = [None, None, None, 6, 5, 4, 4, 4, 4, 4, 6, None]


@pytest.mark.parametrize("n_levels", [1, 2, 4, 10, 20])
@pytest.mark.parametrize("reps", [1, 10, 100])
def test_cyclic_12_event_suite(spark, n_levels, reps):
    """FIXTURES 3.4 (ref: test_calculate_bbo.py:12-127): the 12-event cycle
    returns the book to empty, so tiling xN leaves expectations unchanged.
    Covers both the n=1 basic path and the top-N path, updates AND mutations."""
    m = 12 * reps
    rows_u, rows_m = [], []
    for r in range(m):
        i = r % 12
        rows_u.append((r, CYCLE_IS_BID[i], CYCLE_PRICES[i], CYCLE_UPD_QTY[i]))
        rows_m.append((r, CYCLE_IS_BID[i], CYCLE_PRICES[i], CYCLE_MUT_QTY[i]))
    exp_bid = CYCLE_EXP_BID * reps
    exp_ask = CYCLE_EXP_ASK * reps

    for maker, rows in [(top_n_levels_from_price_updates, rows_u),
                        (top_n_levels_from_price_mutations, rows_m)]:
        df = spark.createDataFrame(rows, SCHEMA3)
        out = maker(df, n=n_levels)
        got = snap(out, ["bid_price_1", "bid_qty_1", "ask_price_1", "ask_qty_1"])
        assert [g[0] for g in got] == exp_bid
        assert [g[2] for g in got] == exp_ask
        # qtys equal prices in this fixture
        assert [g[1] for g in got] == exp_bid
        assert [g[3] for g in got] == exp_ask


@pytest.mark.parametrize("n_levels", [1, 2, 4, 10, 20])
@pytest.mark.parametrize("reps", [1, 10])
def test_cyclic_modify_suite(spark, n_levels, reps):
    """FIXTURES 3.5 (ref: test_calculate_bbo.py:130-191)."""
    rows = [(-2, True, 1, 1, None, None), (-1, False, 6, 6, None, None)]
    cyc = [(True, 2, 2, 1, 1), (True, 3, 3, 2, 2), (True, 1, 1, 3, 3),
           (False, 5, 5, 6, 6), (False, 4, 4, 5, 5), (False, 6, 6, 4, 4)]
    s = 1
    for _ in range(reps):
        for b, p, q, pp, pq in cyc:
            rows.append((s, b, p, q, pp, pq))
            s += 1
    df = spark.createDataFrame(rows, SCHEMA5)
    out = top_n_levels_from_price_mutations_with_modify(
        df, prev_price="prev_price", prev_qty="prev_qty", n=n_levels)
    got = snap(out, ["bid_price_1", "ask_price_1"])
    exp_bid = [1, 1] + [2, 3, 1, 1, 1, 1] * reps
    exp_ask = [None, 6] + [6, 6, 6, 5, 4, 6] * reps
    assert [g[0] for g in got] == exp_bid
    assert [g[1] for g in got] == exp_ask


def test_modify_all_null_prev_degenerates_to_mutations(spark):
    """ref: test_calculate_bbo.py:194-259."""
    rows_m = [(r, CYCLE_IS_BID[r], CYCLE_PRICES[r], CYCLE_MUT_QTY[r], None, None)
              for r in range(12)]
    df = spark.createDataFrame(rows_m, SCHEMA5)
    out = top_n_levels_from_price_mutations_with_modify(
        df, prev_price="prev_price", prev_qty="prev_qty", n=2)
    got = snap(out, ["bid_price_1", "ask_price_1"])
    assert [g[0] for g in got] == CYCLE_EXP_BID
    assert [g[1] for g in got] == CYCLE_EXP_ASK


def test_multi_order_per_level_modify(spark):
    """FIXTURES 3.6 (ref: test_calculate_bbo.py:262-320): two orders per level,
    partial-level deletes via modify, single side."""
    rows = [
        (1, True, 10, 5, None, None),   # order A at 10
        (2, True, 10, 7, None, None),   # order B at 10 (level=12)
        (3, True, 20, 5, 10, 5),        # move A 10->20
        (4, True, 20, 7, 10, 7),        # move B 10->20 (level 10 gone)
        (5, True, 10, 5, 20, 5),        # move A back
    ]
    df = spark.createDataFrame(rows, SCHEMA5)
    out = top_n_levels_from_price_mutations_with_modify(
        df, prev_price="prev_price", prev_qty="prev_qty", n=2)
    got = snap(out, ["bid_price_1", "bid_qty_1", "bid_price_2", "bid_qty_2"])
    assert got[0] == (10, 5, None, None)
    assert got[1] == (10, 12, None, None)
    assert got[2] == (20, 5, 10, 7)
    assert got[3] == (20, 12, None, None)
    assert got[4] == (20, 7, 10, 5)


def test_qty_only_modify(spark):
    """prev_qty without prev_price: delete (prev_qty - qty) at price
    (ref: update.rs:148-150); qty=0 deletes prev_qty at price (:152-154)."""
    rows = [
        (1, True, 10, 9, None, None),
        (2, True, 10, 4, None, 9),   # shrink 9 -> 4
        (3, True, 10, 0, None, 4),   # delete remaining 4
    ]
    df = spark.createDataFrame(rows, SCHEMA5)
    out = top_n_levels_from_price_mutations_with_modify(
        df, prev_price="prev_price", prev_qty="prev_qty", n=1)
    got = snap(out, ["bid_price_1", "bid_qty_1"])
    assert got == [(10, 9), (10, 4), (None, None)]


def test_group_by_books(spark):
    """FIXTURES 3.8: cycle tiled across product_id x reset_count with
    interleaved rows; expectations = per-group golden (ref: README.md:184-216)."""
    schema = StructType([
        StructField("product_id", LongType()),
        StructField("reset_count", LongType()),
    ] + SCHEMA3.fields)
    rows = []
    s = 0
    for i in range(12):
        for prod in (1, 2, 3):
            for rc in (0, 1):
                rows.append((prod, rc, s, CYCLE_IS_BID[i], CYCLE_PRICES[i],
                             CYCLE_MUT_QTY[i]))
                s += 1
    df = spark.createDataFrame(rows, schema)
    out = top_n_levels_from_price_mutations(df, by=["product_id", "reset_count"], n=2)
    res = {}
    for r in out.collect():
        d = r.asDict()
        res.setdefault((d["product_id"], d["reset_count"]), []).append(
            (d["seq"], d["bid_price_1"], d["ask_price_1"]))
    assert len(res) == 6
    for grp, vals in res.items():
        vals.sort()
        assert [v[1] for v in vals] == CYCLE_EXP_BID
        assert [v[2] for v in vals] == CYCLE_EXP_ASK


def test_modifies_asymmetric_cross_side(spark):
    """Rust-only golden (ref: calculate_bbo.rs:304-335): bid ladder climbs
    1->5 while the ask ladder walks 9->6; final rows move the best bid 5->1
    (qty 50->1) and the best ask 6->9 (qty 60->1)."""
    prices = [1, 2, 3, 4, 5, 9, 8, 7, 6, 1, 9]
    qtys = [10, 20, 30, 40, 50, 90, 80, 70, 60, 1, 1]
    bids = [True] * 5 + [False] * 4 + [True, False]
    prev_p = [None, 1, 2, 3, 4, None, 9, 8, 7, 5, 6]
    prev_q = [None, 10, 20, 30, 40, None, 90, 80, 70, 50, 60]
    rows = list(zip(range(11), bids, prices, qtys, prev_p, prev_q))
    df = spark.createDataFrame(rows, SCHEMA5)
    out = top_n_levels_from_price_mutations_with_modify(
        df, prev_price="prev_price", prev_qty="prev_qty", n=1)
    got = snap(out, ["bid_price_1", "bid_qty_1", "ask_price_1", "ask_qty_1"])
    assert [g[0] for g in got] == [1, 2, 3, 4, 5, 5, 5, 5, 5, 1, 1]
    assert [g[1] for g in got] == [10, 20, 30, 40, 50, 50, 50, 50, 50, 1, 1]
    assert [g[2] for g in got] == [None, None, None, None, None, 9, 8, 7, 6, 6, 9]
    assert [g[3] for g in got] == [None, None, None, None, None, 90, 80, 70, 60, 60, 1]


def test_n1_and_n2_top_level_consistency(spark):
    """Rust-only consistency suite (ref: calculate_bbo.rs:372-519): the n=1
    book (basic tracking path in the reference) and the n=2 book must agree on
    level 1 for every row, across all three variants."""
    import random

    rng = random.Random(99)
    from tests.test_order_book_relational import gen_mutations, gen_updates

    mut = spark.createDataFrame(gen_mutations(rng, 200), SCHEMA3)
    upd = spark.createDataFrame(gen_updates(rng, 200), SCHEMA3)
    for maker, df in [(top_n_levels_from_price_mutations, mut),
                      (top_n_levels_from_price_updates, upd)]:
        cols = ["bid_price_1", "bid_qty_1", "ask_price_1", "ask_qty_1"]
        one = snap(maker(df, n=1), cols)
        two = snap(maker(df, n=2), cols)
        assert one == two


def test_top20_truncates_deeper_book(spark):
    """n=20 (the reference's monomorphization ceiling, ref:
    calculate_bbo.rs:115-125) over a book holding 30 bid / 25 ask levels:
    the snapshot truncates to the best 20, and deleting a level inside the
    window backfills level 20 from the 21st-best price."""
    rows = [(p, True, p, p) for p in range(1, 31)]          # bids 1..30
    rows += [(100 + p, False, 40 + p, p) for p in range(1, 26)]  # asks 41..65
    rows.append((200, True, 25, 0))                          # delete bid 25
    df = spark.createDataFrame(rows, SCHEMA3)
    out = top_n_levels_from_price_updates(df, n=20)
    last = max(r["seq"] for r in df.collect())
    row = out.filter(f"seq = {last}").collect()[0].asDict()
    # bids after delete: 30..26, 24..11 best-to-worst; level 20 = price 10
    exp_bids = [30, 29, 28, 27, 26] + list(range(24, 9, -1))
    assert [row[f"bid_price_{i}"] for i in range(1, 21)] == exp_bids
    assert [row[f"bid_qty_{i}"] for i in range(1, 21)] == exp_bids
    # asks: best 20 of 25 = 41..60
    assert [row[f"ask_price_{i}"] for i in range(1, 21)] == list(range(41, 61))
    # before the delete (seq 125), bid level 20 was price 11
    mid = out.filter("seq = 125").collect()[0].asDict()
    assert mid["bid_price_20"] == 11


def test_top20_mutations_truncate_and_backfill(spark):
    """r9: the add/delete fold at n=20 (ref: update.rs:113-123 vs the
    set-level :101-105) over a 30-level bid book — a DELETE delta inside
    the window must backfill level 20 from the 21st-best price, driving
    the nth_best_level path (order_book.py:271-301) at the reference's
    monomorphization ceiling."""
    rows = [(p, True, p, p) for p in range(1, 31)]           # add bids 1..30
    rows += [(100 + p, False, 40 + p, p) for p in range(1, 26)]  # asks
    rows.append((200, True, 25, -25))                        # delete bid 25
    df = spark.createDataFrame(rows, SCHEMA3)
    out = top_n_levels_from_price_mutations(df, n=20)
    row = out.filter("seq = 200").collect()[0].asDict()
    exp_bids = [30, 29, 28, 27, 26] + list(range(24, 9, -1))
    assert [row[f"bid_price_{i}"] for i in range(1, 21)] == exp_bids
    assert [row[f"ask_price_{i}"] for i in range(1, 21)] == list(range(41, 61))
    mid = out.filter("seq = 125").collect()[0].asDict()
    assert mid["bid_price_20"] == 11


def test_top20_modify_truncate_and_backfill(spark):
    """r9: the modify fold at n=20 over a 30-order bid book — a full
    modify moving an order from INSIDE the window to below it must both
    backfill level 20 (delete leg) and keep the moved qty out of the
    snapshot (add leg below threshold, ref: calculate_bbo.rs:243-267)."""
    rows = [(p, True, p, p, None, None) for p in range(1, 31)]  # 30 resting bids
    # move the order at price 25 (inside top-20, threshold=11) down to 5
    rows.append((100, True, 5, 25, 25, 25))
    df = spark.createDataFrame(rows, SCHEMA5)
    out = top_n_levels_from_price_mutations_with_modify(
        df, prev_price="prev_price", prev_qty="prev_qty", n=20)
    row = out.filter("seq = 100").collect()[0].asDict()
    exp_bids = [30, 29, 28, 27, 26] + list(range(24, 9, -1))
    assert [row[f"bid_price_{i}"] for i in range(1, 21)] == exp_bids
    # price 5 now holds its original qty 5 plus the moved 25 — but sits
    # below level 20 (price 10), so the snapshot must not show it
    assert 5 not in [row[f"bid_price_{i}"] for i in range(1, 21)]
    before = out.filter("seq = 30").collect()[0].asDict()
    assert before["bid_price_20"] == 11


def test_output_struct_mode(spark):
    """output_struct returns the Polars shape (struct to unnest)."""
    df = spark.createDataFrame([(1, True, 5, 50)], SCHEMA3)
    out = top_n_levels_from_price_updates(df, n=1, output_struct="bbo")
    assert "bbo" in out.columns
    flat = out.select("seq", "bbo.*")
    r = flat.collect()[0]
    assert (r["bid_price_1"], r["bid_qty_1"]) == (5, 50)


def test_int32_ticks_accepted_with_original_price_dtype_out(spark):
    """Generic-tick parity (ref: order_book_core/src/price_level.rs:8-44):
    int32 price/qty fold exactly like i64, snapshot PRICE columns come back
    as the input price dtype; qty snapshots promote to long (sums)."""
    from pyspark.sql.types import IntegerType

    schema = StructType([
        StructField("seq", LongType()),
        StructField("is_bid", BooleanType()),
        StructField("price", IntegerType()),
        StructField("qty", IntegerType()),
    ])
    df = spark.createDataFrame(
        [(1, True, 100, 5), (2, True, 101, 3), (3, False, 105, 2), (4, True, 101, 4)],
        schema,
    )
    out = top_n_levels_from_price_mutations(df, n=2)
    dts = dict(out.dtypes)
    assert dts["bid_price_1"] == "int" and dts["ask_price_2"] == "int"
    assert dts["bid_qty_1"] == "bigint"
    assert dts["price"] == "int"  # passthrough column untouched
    rows = {r["seq"]: r for r in out.collect()}
    assert (rows[4]["bid_price_1"], rows[4]["bid_qty_1"]) == (101, 7)
    assert (rows[4]["bid_price_2"], rows[4]["bid_qty_2"]) == (100, 5)
    assert (rows[4]["ask_price_1"], rows[4]["ask_qty_1"]) == (105, 2)


def test_decimal_ticks_accepted(spark):
    """DECIMAL(12,0) ticks fold via the validated i64 cast and come back as
    DECIMAL(12,0) prices."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType

    schema = StructType([
        StructField("seq", LongType()),
        StructField("is_bid", BooleanType()),
        StructField("price", DecimalType(12, 0)),
        StructField("qty", LongType()),
    ])
    df = spark.createDataFrame(
        [(1, True, Decimal(100), 5), (2, False, Decimal(105), 2)], schema
    )
    out = top_n_levels_from_price_updates(df, n=1)
    assert dict(out.dtypes)["bid_price_1"] == "decimal(12,0)"
    rows = {r["seq"]: r for r in out.collect()}
    assert rows[2]["bid_price_1"] == Decimal(100)
    assert rows[2]["ask_price_1"] == Decimal(105)


def test_float_ticks_rejected_loudly(spark):
    """Float ticks must raise (silent truncation corrupts books); the
    reference README's own recipe scales floats to ints first."""
    from polars_order_book_spark.operators.order_book import OrderBookError
    from pyspark.sql.types import DoubleType

    schema = StructType([
        StructField("seq", LongType()),
        StructField("is_bid", BooleanType()),
        StructField("price", DoubleType()),
        StructField("qty", LongType()),
    ])
    df = spark.createDataFrame([(1, True, 100.5, 5)], schema)
    with pytest.raises(OrderBookError, match="unsupported tick dtype"):
        top_n_levels_from_price_updates(df, n=1)


def test_int32_ticks_chunked_matches_unchunked(spark):
    """The fold's tick-cast plumbing (int32 in, long fold, int32 prices out)
    against the Spark-free naive reference."""
    from pyspark.sql.types import IntegerType

    from naive_book import top_n
    from polars_order_book_spark import snapshot_columns

    schema = StructType([
        StructField("seq", LongType()),
        StructField("is_bid", BooleanType()),
        StructField("price", IntegerType()),
        StructField("qty", IntegerType()),
    ])
    rows = [(i, i % 2 == 0, 100 + i % 5, 1 + i % 3) for i in range(1, 41)]
    df = spark.createDataFrame(rows, schema)
    cols = snapshot_columns(2)
    got = {r["seq"]: tuple(r[c] for c in cols)
           for r in top_n_levels_from_price_mutations(df, n=2).collect()}
    assert got == top_n(rows, "mutations", 2)
