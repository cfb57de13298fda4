"""In-process micro-profiler for the order-book fold kernel (guide §1/§4).

Times ``_fold_arrays`` directly — no Spark, no Arrow boundary — so the number
is pure per-task Python fold throughput (rows/s), the quantity the r10
verdict flagged at 175–266k rows/s/task. Event streams replicate the
``plans/book_streams.py`` arithmetic (same price/qty/side distributions the
bench queries fold), generated from a deterministic LCG instead of the
events table so any row count is available.

Usage: python tools/fold_profile.py [m_rows] [--profile variant]
  m_rows   events per variant (default 2_000_000)
  --profile VARIANT  additionally run cProfile on one variant and print the
                     top functions (updates_deep20 | updates1 | mutations2 |
                     modify2 | mutations_deep10)
"""
from __future__ import annotations

import cProfile
import io
import pstats
import sys
import time

import numpy as np

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from polars_order_book_spark.operators.order_book import _fold_arrays  # noqa: E402


def _lcg(n: int, seed: int) -> np.ndarray:
    """Deterministic 63-bit LCG stream (numpy-vectorized)."""
    a = 2862933555777941757
    c = 3037000493
    mask64 = (1 << 64) - 1
    x = (seed * a + c) & mask64
    out = np.empty(n, dtype=np.uint64)
    vals = out.tolist()  # placeholder; fill via python ints (fast enough)
    for i in range(n):
        x = (a * x + c) & mask64
        vals[i] = x >> 16
    out = np.array(vals, dtype=np.uint64)
    return out.astype(np.int64) & np.int64(0x7FFFFFFF)


def streams(m: int):
    """Replicates plans/book_streams.py event shapes."""
    event_id = np.arange(m, dtype=np.int64)
    user_id = _lcg(m, 7) % 100_000
    value = _lcg(m, 13) % 1000

    # deep_updates_stream: 40-price ladder, side decoupled from price
    deep_updates = dict(
        variant="updates", n=20,
        seq=event_id,
        is_bid=(event_id % 2 == 0),
        price=(user_id * 7 + event_id) % 40 + 1,
        qty=value % 7,
    )
    # updates_stream: 20 prices tied to side parity (10 live per side)
    updates1 = dict(
        variant="updates", n=1,
        seq=event_id,
        is_bid=(user_id % 2 == 0),
        price=user_id % 20 + 1,
        qty=value % 7,
    )
    # mutations_stream: adds only
    mutations2 = dict(
        variant="mutations", n=2,
        seq=event_id,
        is_bid=(user_id % 2 == 0),
        price=user_id % 20 + 1,
        qty=value % 5 + 1,
    )
    # deep_mutations_stream: paired add/delete over 40 prices
    occ = np.zeros(m, dtype=np.int64)
    # occurrence index per user — vectorized rank within user via argsort
    order = np.argsort(user_id, kind="stable")
    ranks = np.empty(m, dtype=np.int64)
    sorted_uid = user_id[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_uid)) + 1]
    within = np.arange(m) - np.repeat(starts, np.diff(np.r_[starts, m]))
    ranks[order] = within
    occ = ranks
    pair = occ // 2
    mag = (user_id + pair) % 5 + 1
    mut_deep_qty = np.where(occ % 2 == 1, -mag, mag)
    mutations_deep10 = dict(
        variant="mutations", n=10,
        seq=event_id,
        is_bid=(user_id % 2 == 0),
        price=(user_id * 7 + pair) % 40 + 1,
        qty=mut_deep_qty,
    )
    # modify: one resting qty-1 order per user walking a ladder
    prev_rank_price = (user_id * 7 + np.maximum(ranks - 1, 0)) % 40 + 1
    cur_price = (user_id * 7 + ranks) % 40 + 1
    first = ranks == 0
    modify2 = dict(
        variant="modify", n=2,
        seq=event_id,
        is_bid=(user_id % 2 == 0),
        price=cur_price,
        qty=np.ones(m, dtype=np.int64),
        prev_price=[None if f else int(p) for f, p in zip(first, prev_rank_price)],
        prev_qty=[None if f else 1 for f in first],
    )
    return {
        "updates_deep20": deep_updates,
        "updates1": updates1,
        "mutations2": mutations2,
        "mutations_deep10": mutations_deep10,
        "modify2": modify2,
    }


BATCH = 65536  # spark.sql.execution.arrow.maxRecordsPerBatch (session.py)


def run_one(spec: dict) -> tuple[float, int]:
    """Chained-state fold in Arrow-batch-sized chunks — the exact shape
    ``_apply_fold``'s ``fold_stream`` drives per task, minus the
    pandas/Arrow framing, so the number is the kernel's own throughput."""
    m = len(spec["seq"])

    def to_list(v):
        return v.tolist() if hasattr(v, "tolist") else v

    is_bid = to_list(spec["is_bid"])
    price = to_list(spec["price"])
    qty = to_list(spec["qty"])
    pp = spec.get("prev_price")
    pq = spec.get("prev_qty")
    t0 = time.time()
    bids = asks = None
    for lo in range(0, m, BATCH):
        hi = min(lo + BATCH, m)
        out, mask, bids, asks = _fold_arrays(
            spec["variant"], spec["n"], spec["seq"][lo:hi],
            is_bid[lo:hi], price[lo:hi], qty[lo:hi],
            pp[lo:hi] if pp is not None else None,
            pq[lo:hi] if pq is not None else None,
            bids=bids, asks=asks,
        )
        assert out.shape == (4 * spec["n"], hi - lo)
    dt = time.time() - t0
    return dt, m


def main() -> None:
    m = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 2_000_000
    prof_target = None
    if "--profile" in sys.argv:
        prof_target = sys.argv[sys.argv.index("--profile") + 1]
    specs = streams(m)
    print(f"rows per variant: {m}")
    for name, spec in specs.items():
        dt, rows = run_one(spec)
        print(f"{name:18s} {dt:7.2f}s  {rows/dt/1000:8.0f}k rows/s")
    if prof_target:
        spec = specs[prof_target]
        pr = cProfile.Profile()
        pr.enable()
        run_one(spec)
        pr.disable()
        s = io.StringIO()
        pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(25)
        print(s.getvalue())


if __name__ == "__main__":
    main()
