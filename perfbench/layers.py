"""Per-layer readings, all taken from outside the program.

* ``plan_nodes`` / ``fold_metrics`` -- Spark SQL metrics of the final
  adaptive plan, read after the action (``executedPlan`` ->
  ``finalPhysicalPlan``, descending into each ``QueryStageExec.plan()``).
* ``stage_walls``   -- submission-to-completion wall of every stage an action
  ran, from the status store, in submission order.
* ``profile_split`` -- the Python worker's cProfile split from
  ``spark.sql.pyspark.udf.profiler=perf``.
* ``kernel_replay`` -- Spark-free ``_fold_arrays`` over the same events.
* ``RssSampler``, ``env_stamp``, ``plan_fingerprint`` -- host and plan
  context for attributing a change to code, plan or host weather.
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
import threading
import time

import numpy as np

# --- Spark SQL metrics on the final physical plan ---------------------------

PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas",
                "FlatMapGroupsInPandasWithState")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def plan_nodes(jplan) -> list[tuple[str, dict]]:
    """``(nodeName, {metric: value})`` for every operator of an executed
    plan, parents before children, with adaptive wrappers unwrapped."""
    out: list[tuple[str, dict]] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.finalPhysicalPlan())
            return
        if cls.endswith("QueryStageExec"):
            first = len(out)
            walk(node.plan())
            stats = node.mapStats() if cls == "ShuffleQueryStageExec" else None
            if stats is not None and not stats.isEmpty():
                out[first][1]["nonEmptyPartitions"] = sum(
                    1 for b in stats.get().bytesByPartitionId() if b)
            return
        ms = node.metrics()
        out.append((node.nodeName(),
                    {k: ms.apply(k).value() for k in _seq(ms.keys().toSeq())}))
        for child in _seq(node.children()):
            walk(child)

    walk(jplan)
    return out


def fold_metrics(nodes: list[tuple[str, dict]]) -> dict[str, float]:
    """Layer metrics of the fold: its Python node, the sort and exchange
    below it, and the scan. Exchanges above the Python node (the checksum's
    final aggregate) are excluded."""
    names = [n for n, _ in nodes]
    py = next(i for i, n in enumerate(names) if n in PYTHON_NODES)
    below = nodes[py:]

    def total(node: str, metric: str) -> float:
        return float(sum(m.get(metric, 0) for n, m in below if n.startswith(node)))

    # Tasks that feed the Python node real data: AQE's coalesced read if it
    # applied, else the shuffle's non-empty reducer partitions, else (a
    # streaming plan, which has no adaptive statistics) every partition.
    reads = [m for n, m in below if n == "AQEShuffleRead"]
    exchanges = [m for n, m in below if n == "Exchange"]
    if reads:
        fold_parts = reads[0]["numPartitions"] - reads[0].get("numEmptyPartitions", 0)
    elif exchanges:
        fold_parts = exchanges[0].get("nonEmptyPartitions", exchanges[0]["numPartitions"])
    else:
        fold_parts = 1
    pm = below[0][1]
    return {
        "scan.time_ms": total("Scan", "scanTime"),
        "scan.rows": total("Scan", "numOutputRows"),
        "exchange.bytes_written": total("Exchange", "shuffleBytesWritten"),
        "exchange.write_ms": total("Exchange", "shuffleWriteTime") / 1e6,
        "exchange.fetch_wait_ms": total("Exchange", "fetchWaitTime"),
        "exchange.fold_partitions": float(fold_parts),
        "sort.time_ms": total("Sort", "sortTime"),
        "sort.peak_mem_bytes": total("Sort", "peakMemory"),
        "python.total_ms": float(pm.get("pythonTotalTime", 0)),
        "python.boot_ms": float(pm.get("pythonBootTime", 0)),
        "python.init_ms": float(pm.get("pythonInitTime", 0)),
        "python.bytes_sent": float(pm.get("pythonDataSent", 0)),
        "python.bytes_received": float(pm.get("pythonDataReceived", 0)),
        "python.rows_received": float(pm.get("pythonNumRowsReceived", 0)),
    }


def stage_walls(spark, group: str) -> list[tuple[float, float]]:
    """``(wall_s, executor_run_s)`` per stage the action of ``group`` ran, in
    submission order. Adaptive query stages run one after another, so the
    first is the scan + exchange write and the next holds the fold. The
    parquet footer job that ``spark.read.parquet`` runs while the plan is
    built is left out: plan-build time already covers it."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        for sid in _seq(store.job(jid).stageIds()):
            for st in _seq(store.stageData(sid, False, getattr(store, "stageData$default$3")(),
                                           False, getattr(store, "stageData$default$5")())):
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isEmpty() or done.isEmpty() or st.name().startswith("parquet at"):
                    continue  # skipped (shuffle output reused) or the footer job
                t0, t1 = sub.get().getTime(), done.get().getTime()
                stages.append((t0, (t1 - t0) / 1e3, st.executorRunTime() / 1e3))
    stages.sort()
    return [(wall, run) for _, wall, run in stages]


# --- Python worker profile ---------------------------------------------------

FOLD_CLOSURES = {"fold", "fold_stream", "fold_batches", "fold_batches_reorder"}
FRAME_CALLEES = {("frame.py", "__init__"), ("frame.py", "__setitem__"),
                 ("frame.py", "drop"), ("generic.py", "copy"),
                 ("concat.py", "concat"), ("numeric.py", "__init__")}


def profile_split(spark) -> dict[str, float]:
    """Seconds under ``_fold_arrays``, ``_as_list`` and output-frame build
    (pandas constructors and column inserts called by the fold closures),
    summed over every profiled task since the last ``spark.profile.clear``."""
    results = spark._profiler_collector._perf_profile_results
    fold = as_list = frame = 0.0
    for st in results.values():
        for (fname, _, func), (_, _, _, ct, callers) in st.stats.items():
            if fname == "order_book.py" and func == "_fold_arrays":
                fold += ct
            elif fname == "order_book.py" and func == "_as_list":
                as_list += ct
            elif (fname, func) in FRAME_CALLEES:
                frame += sum(edge[3] for caller, edge in callers.items()
                             if caller[2] in FOLD_CLOSURES)
    return {"order_book.fold_arrays_s": fold, "order_book.as_list_s": as_list,
            "order_book.frame_build_s": frame}


# --- Spark-free kernel replay -------------------------------------------------

KERNEL_BATCH = 65_536


def kernel_replay(path: str, fmt: str, n: int, keyed: bool) -> dict[str, float]:
    """``_fold_arrays`` over each book's events in ``KERNEL_BATCH``-row
    batches with chained state -- the operator's Arrow-batch hand-off
    without Spark. Returns rows/s of kernel time and the emit ratio (share of
    rows whose snapshot differs from the book's previous row)."""
    import pyarrow.dataset as ds

    from polars_order_book_spark.operators.order_book import _fold_arrays

    table = ds.dataset(path).to_table().sort_by("seq")
    keys = table.column("product_id").to_numpy() if keyed else np.zeros(table.num_rows, np.int64)
    cols = {c: table.column(c).to_pylist() for c in table.column_names}
    seq = table.column("seq").to_numpy()
    books: dict[int, list[int]] = {}
    for i, k in enumerate(keys.tolist()):
        books.setdefault(k, []).append(i)
    busy = 0.0
    changed = 0
    for idx in books.values():
        bids = asks = None
        last = None
        for s in range(0, len(idx), KERNEL_BATCH):
            part = idx[s:s + KERNEL_BATCH]
            pick = lambda c: [cols[c][i] for i in part]  # noqa: E731
            args = (fmt, n, seq[part], pick("is_bid"), pick("price"), pick("qty"),
                    pick("prev_price") if fmt == "modify" else None,
                    pick("prev_qty") if fmt == "modify" else None)
            t0 = time.perf_counter()
            out, mask, bids, asks = _fold_arrays(*args, bids=bids, asks=asks)
            busy += time.perf_counter() - t0
            snap = np.where(mask, np.iinfo(np.int64).min, out)
            prev = np.empty_like(snap)
            prev[:, 1:] = snap[:, :-1]
            prev[:, 0] = last if last is not None else np.iinfo(np.int64).min
            diff = (snap != prev).any(axis=0)
            if last is None:
                diff[0] = True  # a book's first row always opens a snapshot
            changed += int(diff.sum())
            last = snap[:, -1]
    return {"kernel.rows_per_s": table.num_rows / busy,
            "kernel.emit_ratio": changed / table.num_rows}


# --- Host and plan context ----------------------------------------------------


def _is_worker(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


def _rss_mb(pid: str) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler:
    """Summed RSS of the PySpark daemon and its forked Python workers, where
    the book state and Arrow batches live; sampled from /proc every
    ``interval`` seconds between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._known: dict[str, bool] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        total = 0.0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            hit = self._known.get(pid)
            if hit is None:
                hit = self._known[pid] = _is_worker(pid)
            if hit:
                total += _rss_mb(pid)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, self.sample())

    def start(self) -> None:
        self.peak_mb = self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_mb = max(self.peak_mb, self.sample())
        return self.peak_mb


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostWeather:
    """CPU steal share between construction and ``steal_pct``."""

    def __init__(self) -> None:
        self._t0 = _cpu_times()

    def steal_pct(self) -> float:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


_VOLATILE = [
    (re.compile(r"#\d+L?"), "#"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[file:[^\]]*\]"), "[<path>]"),
    (re.compile(r"(Location: \w+)\([^)]*\)"), r"\1"),
    # streaming: checkpoint paths, run ids, state versions, batch timestamps
    (re.compile(r"file:[^,\]\s]+"), "<path>"),
    (re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"ver = \d+"), "ver ="),
    (re.compile(r"\b1\d{12}\b"), "<ts>"),
]


def plan_fingerprint(plan_text: str) -> str:
    """sha256 of a formatted physical plan with expression ids, plan ids and
    file locations removed, so it changes only when the plan's shape does."""
    for pat, rep in _VOLATILE:
        plan_text = pat.sub(rep, plan_text)
    return hashlib.sha256(plan_text.encode()).hexdigest()


def env_stamp(root: str, weather: HostWeather, plan_hash: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    commit = "unknown"  # a checkout without .git, or no git on the host
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                                    text=True, timeout=10).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "steal_pct": round(weather.steal_pct(), 3),
        "loadavg": list(os.getloadavg()),
        "nproc": len(os.sched_getaffinity(0)),
        "git_commit": commit,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "plan_hash": plan_hash,
    }
