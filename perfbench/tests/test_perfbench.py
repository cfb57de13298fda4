"""Spark-free checks of the benchmark's own parts: the simulator's validity,
the oracle's semantics, its checksum, and the result line's metric names.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import oracle  # noqa: E402
import run  # noqa: E402
import sim  # noqa: E402
import workloads  # noqa: E402

NULL = oracle.NULL
TINY = sim.BookParams(books=3, steps=3_000, target_orders=12, mean_distance=3.0, zipf=1.0)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_mutations_never_delete_missing_or_more_than_rests(seed):
    cols = sim.render(sim.simulate(seed, TINY), "mutations")
    levels: Counter = Counter()
    for book, is_bid, price, qty in zip(cols["product_id"], cols["is_bid"],
                                        cols["price"], cols["qty"]):
        key = (book, is_bid, price)
        if qty < 0:
            assert levels[key] >= -qty > 0, (key, qty, levels[key])
        levels[key] += qty
        if not levels[key]:
            del levels[key]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_updates_are_level_totals(seed):
    actions = sim.simulate(seed, TINY)
    deltas = sim.render(actions, "mutations")
    totals = sim.render(actions, "updates")
    running: Counter = Counter()
    for book, is_bid, price, delta, total in zip(
            deltas["product_id"], deltas["is_bid"], deltas["price"], deltas["qty"], totals["qty"]):
        running[(book, is_bid, price)] += delta
        assert total == running[(book, is_bid, price)] >= 0


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_modify_names_a_resting_order(seed):
    """Replay the modify stream at order level: every prev_price/prev_qty
    (and every plain delete) must match an order resting at that price."""
    cols = sim.render(sim.simulate(seed, TINY), "modify")
    resting: dict = {}  # (book, side, price) -> Counter of order sizes

    def take(key, size):
        orders = resting.get(key, Counter())
        assert orders[size] > 0, (key, size, orders)
        orders[size] -= 1

    def put(key, size):
        resting.setdefault(key, Counter())[size] += 1

    kinds = Counter()
    for book, is_bid, price, qty, pp, pq in zip(
            cols["product_id"], cols["is_bid"], cols["price"], cols["qty"],
            cols["prev_price"], cols["prev_qty"]):
        if pp is None and pq is None:
            kinds["add" if qty > 0 else "delete"] += 1
            if qty > 0:
                put((book, is_bid, price), qty)
            else:
                take((book, is_bid, price), -qty)
        elif pp is not None:
            kinds["move" if qty else "move_to_zero"] += 1
            take((book, is_bid, pp), pq)
            if qty:
                put((book, is_bid, price), qty)
        else:
            kinds["shrink" if qty else "fill"] += 1
            assert 0 <= qty < pq
            take((book, is_bid, price), pq)
            if qty:
                put((book, is_bid, price), qty)
    # The stream exercises every valid row of the modify table it renders.
    assert set(kinds) == {"add", "delete", "move", "move_to_zero", "shrink", "fill"}


def test_simulation_is_reproducible_from_the_seed():
    assert sim.simulate(5, TINY) == sim.simulate(5, TINY)
    assert sim.simulate(5, TINY) != sim.simulate(6, TINY)


def _rows(is_bid, price, qty, prev_price=None, prev_qty=None):
    cols = {"is_bid": is_bid, "price": price, "qty": qty, "product_id": [0] * len(price)}
    if prev_price is not None:
        cols["prev_price"], cols["prev_qty"] = prev_price, prev_qty
    return cols


def _col(snap, n, name, level):
    j = 4 * (level - 1) + ["bid_price", "bid_qty", "ask_price", "ask_qty"].index(name)
    return [None if v == NULL else int(v) for v in snap[:, j]]


def test_oracle_updates_golden():  # FIXTURES.md 3.1
    T, F = True, False
    cols = _rows([T, T, F, F, T, T], [1, 2, 4, 5, 2, 2], [100, 200, 400, 500, 250, 0])
    snap = oracle.snapshots(cols, "updates", 2, keyed=False)
    assert snap[-1].tolist() == [1, 100, 4, 400, NULL, NULL, 5, 500]


def test_oracle_mutations_golden():  # FIXTURES.md 3.2
    T, F = True, False
    cols = _rows([T, T, F, F, T, T], [1, 2, 4, 5, 2, 2], [100, 200, 400, 500, 50, -250])
    snap = oracle.snapshots(cols, "mutations", 2, keyed=False)
    assert _col(snap, 2, "bid_qty", 1)[4] == 250
    assert _col(snap, 2, "bid_price", 1)[5] == 1


@pytest.mark.parametrize("n", [1, 2, 4])
@pytest.mark.parametrize("fmt", ["updates", "mutations"])
def test_oracle_cyclic_golden(fmt, n):  # FIXTURES.md 3.4, tiled x3
    T, F = True, False
    prices = [1, 2, 3, 6, 5, 4, 3, 1, 2, 5, 4, 6] * 3
    is_bid = [T, T, T, F, F, F, T, T, T, F, F, F] * 3
    qty = ([1, 2, 3, 6, 5, 4, 0, 0, 0, 0, 0, 0] if fmt == "updates"
           else [1, 2, 3, 6, 5, 4, -3, -1, -2, -5, -4, -6]) * 3
    snap = oracle.snapshots(_rows(is_bid, prices, qty), fmt, n, keyed=False)
    bid = [1, 2, 3, 3, 3, 3, 2, 2, None, None, None, None] * 3
    ask = [None, None, None, 6, 5, 4, 4, 4, 4, 4, 6, None] * 3
    assert _col(snap, n, "bid_price", 1) == bid == _col(snap, n, "bid_qty", 1)
    assert _col(snap, n, "ask_price", 1) == ask == _col(snap, n, "ask_qty", 1)


def test_oracle_modify_cyclic_golden():  # FIXTURES.md 3.5
    T, F, N = True, False, None
    rows = [(T, 1, 1, N, N), (F, 6, 6, N, N)] + [
        (T, 2, 2, 1, 1), (T, 3, 3, 2, 2), (T, 1, 1, 3, 3),
        (F, 5, 5, 6, 6), (F, 4, 4, 5, 5), (F, 6, 6, 4, 4)]
    cols = _rows(*[list(c) for c in zip(*rows)])
    snap = oracle.snapshots(cols, "modify", 1, keyed=False)
    assert _col(snap, 1, "bid_price", 1) == [1, 1, 2, 3, 1, 1, 1, 1]
    assert _col(snap, 1, "ask_price", 1) == [None, 6, 6, 6, 6, 5, 4, 6]


def test_oracle_rejects_invalid_streams():
    with pytest.raises(oracle.OracleError):
        oracle.snapshots(_rows([True], [5], [-1]), "mutations", 1, keyed=False)
    with pytest.raises(oracle.OracleError):
        oracle.snapshots(_rows([True, True], [5, 5], [3, -5]), "mutations", 1, keyed=False)


@pytest.mark.parametrize("fmt,n", [("updates", 20), ("mutations", 1), ("modify", 3)])
def test_oracle_agrees_with_the_kernel_on_tiny_seeds(fmt, n):
    """Differential: the naive oracle and the program's kernel, per book."""
    from polars_order_book_spark.operators.order_book import _fold_arrays

    cols = sim.render(sim.simulate(9, TINY), fmt)
    snap = oracle.snapshots(cols, fmt, n, keyed=True)
    for book in set(cols["product_id"]):
        idx = [i for i, b in enumerate(cols["product_id"]) if b == book]
        pick = lambda c: [cols[c][i] for i in idx]  # noqa: E731
        out, mask, _, _ = _fold_arrays(
            fmt, n, np.asarray(pick("seq")), pick("is_bid"), pick("price"), pick("qty"),
            pick("prev_price") if fmt == "modify" else None,
            pick("prev_qty") if fmt == "modify" else None)
        assert np.array_equal(np.where(mask, NULL, out).T, snap[idx])


# Spark 4.1: SELECT xxhash64(1L), xxhash64(-5L), xxhash64(1L, NULL, -5L)
SPARK_XXHASH64 = (-7001672635703045582, -5259934538394028452, 4607847225578703524)


def test_checksum_matches_spark_xxhash64():
    one, minus_five, mixed = SPARK_XXHASH64
    assert oracle.checksum([np.array([1])]) == (one, 1)
    assert oracle.checksum([np.array([-5])]) == (minus_five, 1)
    assert oracle.checksum([np.array([1]), np.array([NULL]), np.array([-5])]) == (mixed, 1)
    total, rows = oracle.checksum([np.array([1, -5])])
    assert (total, rows) == (one + minus_five, 2)


def test_result_line_carries_every_declared_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for key, units in (("end_to_end", run.E2E_UNITS), ("per_layer", run.LAYER_UNITS)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        assert declared == units
        line = json.loads(run.result_line(True, 1, 0, {k: 1.5 for k in units}, units))
        assert {k: v["unit"] for k, v in line["metrics"].items()} == declared
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
