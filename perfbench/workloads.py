"""The benchmark's three workloads and their seeded, oracle-checked inputs.

All three replay one kind of simulated limit-order book (``sim.py``); they
differ in event format, depth, book count and physical path:

* ``deep_book``   -- one unkeyed book, price updates, n=20. The fold is one
  serial task on the chunked ``mapInPandas`` path and most rows change the
  top-20, so kernel emit, the 80-column output frame and its transfer
  dominate; exchange and parallelism do almost nothing. The single-threaded
  baseline.
* ``keyed_books`` -- 64 Zipf-skewed books, mutations with modify, n=3, on the
  keyed ``groupBy().applyInPandas`` path. Most events land below the 3rd-best
  level, so the kernel is cheap and exchange, sort, AQE partitioning and
  per-group materialization dominate.
* ``stream_bbo``  -- 16 books, mutations, n=1 (the best-level fast path)
  through ``top_n_levels_stream``, replayed closed-loop one parquet file per
  micro-batch into ``append_stream_batch``: per-batch state reload and save,
  state-store commits and sink writes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

import oracle
import sim


@dataclass(frozen=True)
class Workload:
    name: str
    fmt: str  # event format, one of sim.FORMATS
    n: int  # snapshot depth
    keyed: bool
    params: sim.BookParams
    files: int  # parquet files; the stream replays one per micro-batch
    stream: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload("deep_book", "updates", 20, False,
                 sim.BookParams(books=1, steps=80_000, target_orders=300,
                                mean_distance=6.0), files=4),
        Workload("keyed_books", "modify", 3, True,
                 sim.BookParams(books=64, steps=250_000, target_orders=60,
                                mean_distance=10.0, zipf=1.0), files=4),
        Workload("stream_bbo", "mutations", 1, True,
                 sim.BookParams(books=16, steps=8_000, target_orders=60,
                                mean_distance=8.0), files=8, stream=True),
    )
}


def hash_columns(w: Workload) -> list[str]:
    """Result columns the checksum covers: the book key, seq, and every
    snapshot column (``snapshot_columns(n)`` order)."""
    snap = []
    for i in range(1, w.n + 1):
        snap += [f"bid_price_{i}", f"bid_qty_{i}", f"ask_price_{i}", f"ask_qty_{i}"]
    return (["product_id"] if w.keyed else []) + ["seq"] + snap


@dataclass(frozen=True)
class Inputs:
    path: str  # directory of parquet files
    rows: int
    checksum: int  # oracle's sum(xxhash64(hash_columns)) over all rows


def _write(cols: dict, w: Workload, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not w.keyed:
        cols = {k: v for k, v in cols.items() if k != "product_id"}
    table = pa.table({
        k: pa.array(v, pa.bool_() if k == "is_bid" else pa.int64())
        for k, v in cols.items()
    })
    os.makedirs(path)
    per = -(-table.num_rows // w.files)
    for i in range(w.files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * per, per), f)
        # A file stream source orders files by modification time; give each
        # a distinct one so micro-batches replay in seq order.
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    if w.stream:
        # The first two micro-batches again, for an untimed warm-up query.
        warm = os.path.join(os.path.dirname(path), "warm")
        os.makedirs(warm)
        for i in range(2):
            name = f"part-{i:05d}.parquet"
            shutil.copy2(os.path.join(path, name), os.path.join(warm, name))


def prepare(w: Workload, seed: int, cache_root: str) -> Inputs:
    """Simulate, render, write parquet and compute the oracle checksum once
    per (workload definition, seed); later calls reuse the cached files."""
    tag = hashlib.sha256(repr(w).encode()).hexdigest()[:10]
    base = os.path.join(cache_root, f"{w.name}-{tag}-{seed}")
    meta = os.path.join(base, "expected.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            e = json.load(fh)
        return Inputs(os.path.join(base, "events"), e["rows"], e["checksum"])
    shutil.rmtree(base, ignore_errors=True)
    cols = sim.render(sim.simulate(seed, w.params), w.fmt)
    snap = oracle.snapshots(cols, w.fmt, w.n, w.keyed)
    hashed = ([np.asarray(cols["product_id"])] if w.keyed else []) + [
        np.asarray(cols["seq"])] + [snap[:, j] for j in range(4 * w.n)]
    checksum, rows = oracle.checksum(hashed)
    _write(cols, w, os.path.join(base, "events"))
    tmp = meta + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"rows": rows, "checksum": checksum}, fh)
    os.replace(tmp, meta)
    return Inputs(os.path.join(base, "events"), rows, checksum)
