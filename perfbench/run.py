"""Order-book fold benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload deep_book --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its events from ``--seed``
(``sim.py``), checks every fold result against the naive oracle
(``oracle.py``) through the same ``sum(xxhash64(...))`` checksum, and prints
an environment stamp line and then, as the last line, ``{"correct",
"attempted", "failed", "metrics"}``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics of ``layers.py``. The
exit code is 1 when any fold failed or disagreed with the oracle. All files
the run writes stay under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3  # session set-ups per run; setup_s is their median


def _isolate_scratch() -> None:
    """Point every scratch location of the JVM, Spark and Python at WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
    )


def _stop_jvm() -> None:
    """Shut the py4j gateway, close the JVM's stdin (it exits on EOF, taking
    its Python workers with it) and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _checksum_df(df, cols):
    from pyspark.sql import functions as F

    return df.select(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("cs"),
        F.count(F.lit(1)).alias("n"),
    )


def _q(values: list[float], q: int) -> float:
    """q-th percentile (1..99), interpolated between order statistics."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float) -> None:
        import workloads

        self.w = workloads.WORKLOADS[workload]
        self.seconds = seconds
        self.cols = workloads.hash_columns(self.w)
        self.inputs = workloads.prepare(self.w, seed, os.path.join(WORK, "data"))
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.get_spark_s: list[float] = []
        self.warmup_s: list[float] = []
        self.attempted = self.failed = self.wrong = 0
        self.plan_text = ""

    # -- session -------------------------------------------------------------

    def start_session(self) -> None:
        from polars_order_book_spark import get_spark, top_n_levels_from_price_mutations
        from pyspark.sql import functions as F

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        # First Python-worker round trip: a tiny keyed fold, one task per core.
        ev = self.spark.range(0, 64, 1, self.cpus).select(
            (F.col("id") % 4).alias("product_id"), F.col("id").alias("seq"),
            (F.col("id") % 2 == 0).alias("is_bid"), (100 + F.col("id") % 5).alias("price"),
            F.lit(1).cast("long").alias("qty"))
        out = top_n_levels_from_price_mutations(ev, by=["product_id"], n=1)
        _checksum_df(out, ["seq", "bid_price_1"]).collect()
        t2 = time.perf_counter()
        self.get_spark_s.append(t1 - t0)
        self.warmup_s.append(t2 - t1)

    def setup(self) -> None:
        for _ in range(SETUPS):
            self.start_session()
        print(f"setup: get_spark_s {self.get_spark_s} warmup_s {self.warmup_s}", file=sys.stderr)

    # -- batch workloads -----------------------------------------------------

    def fold(self, df):
        import polars_order_book_spark as obs

        w = self.w
        if w.fmt == "updates":
            return obs.top_n_levels_from_price_updates(df, n=w.n)
        return obs.top_n_levels_from_price_mutations_with_modify(
            df, prev_price="prev_price", prev_qty="prev_qty", by=["product_id"], n=w.n)

    def batch_rep(self, group: str) -> tuple[float, float, object]:
        """One fold from reading the input to the collected checksum;
        returns (plan_build_s, wall_s, checksum DataFrame)."""
        self.spark.sparkContext.setJobGroup(group, group)
        self.attempted += 1
        t0 = time.perf_counter()
        chk = _checksum_df(self.fold(self.spark.read.parquet(self.inputs.path)), self.cols)
        t1 = time.perf_counter()
        try:
            row = chk.collect()[0]
        except Exception as exc:  # noqa: BLE001 -- a failed fold is counted, not fatal
            print(f"fold failed: {exc!r}"[:2000], file=sys.stderr)
            self.failed += 1
            return t1 - t0, time.perf_counter() - t0, chk
        t2 = time.perf_counter()
        if row["cs"] is None or int(row["cs"]) != self.inputs.checksum or row["n"] != self.inputs.rows:
            self.wrong += 1
        self.plan_text = chk._jdf.queryExecution().executedPlan().toString()
        return t1 - t0, t2 - t0, chk

    # -- stream workload -----------------------------------------------------

    def stream_warmup(self) -> None:
        """An untimed two-batch query: the session's first stateful stream
        pays one-off JVM and worker costs that every later query skips."""
        self.stream_run("warm", os.path.join(os.path.dirname(self.inputs.path), "warm"))

    def stream_run(self, tag: str, path: "str | None" = None) -> dict:
        """Replay the input files closed-loop (one file per micro-batch under
        availableNow) into ``append_stream_batch``; check what landed unless
        ``path`` names another input (the warm-up)."""
        from polars_order_book_spark.sources.sinks import append_stream_batch
        from polars_order_book_spark.streaming import top_n_levels_stream

        spark = self.spark
        out_dir = os.path.join(WORK, "stream", f"out-{tag}")
        ckpt = os.path.join(WORK, "stream", f"ckpt-{tag}")
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        checked = path is None
        path = path or self.inputs.path
        schema = spark.read.parquet(path).schema
        sink_ms: list[float] = []

        def land(batch_df, batch_id):
            t = time.perf_counter()
            append_stream_batch(batch_df, batch_id, out_dir)
            sink_ms.append((time.perf_counter() - t) * 1e3)

        t0 = time.perf_counter()
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
        res = top_n_levels_stream(src, "mutations", by=["product_id"], n=self.w.n)
        t1 = time.perf_counter()
        query = (res.writeStream.outputMode("update").option("checkpointLocation", ckpt)
                 .foreachBatch(land).trigger(availableNow=True).start())
        failed = False
        try:
            query.awaitTermination()
        except Exception as exc:  # noqa: BLE001 -- a failed stream is counted, not fatal
            print(f"stream failed: {exc!r}"[:2000], file=sys.stderr)
            failed = True
        wall = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        if failed:
            self.attempted += max(len(progress), 1)
            self.failed += max(len(progress), 1)
        elif checked:
            self.attempted += len(progress)
            row = _checksum_df(spark.read.parquet(out_dir).drop("batch_id"), self.cols).collect()[0]
            if row["cs"] is None or int(row["cs"]) != self.inputs.checksum or row["n"] != self.inputs.rows:
                self.wrong += 1
        last = query._jsq.streamingQuery().lastExecution()
        plan = None if last is None else last.executedPlan()
        if plan is not None:
            self.plan_text = plan.toString()
        return {"wall": wall, "plan_build": t1 - t0, "progress": progress,
                "sink_ms": sink_ms, "plan": plan}

    # -- runs ----------------------------------------------------------------

    def end_to_end(self) -> dict:
        import layers

        sampler = layers.RssSampler()
        sampler.start()
        if self.w.stream:
            # Whole queries of a fixed size. A query's first micro-batch also
            # starts the query (planning, codegen, state store creation):
            # wall_s counts it, the per-batch latencies leave it out.
            self.stream_warmup()
            deadline = time.perf_counter() + self.seconds
            runs = []
            while not runs or time.perf_counter() < deadline:
                runs.append(self.stream_run(f"e2e{len(runs)}"))
            walls = [r["wall"] for r in runs]
            lat = [p["durationMs"]["triggerExecution"] for r in runs for p in r["progress"][1:]]
        else:
            # One untimed fold first: it boots the rest of the worker pool.
            self.batch_rep("warm")
            deadline = time.perf_counter() + self.seconds
            walls = []
            while len(walls) < 3 or time.perf_counter() < deadline:
                walls.append(self.batch_rep(f"rep{len(walls)}")[1])
            lat = [x * 1e3 for x in walls]
        peak = sampler.stop()
        wall = statistics.median(walls)
        return {
            "setup_s": statistics.median(
                [a + b for a, b in zip(self.get_spark_s, self.warmup_s)]),
            "wall_s": wall,
            "events_per_s": self.inputs.rows / wall,
            "batch_latency_p50_ms": statistics.median(lat),
            "batch_latency_p90_ms": _q(lat, 90),
            "worker_peak_rss_mb": peak,
        }

    def traced(self) -> dict:
        import layers

        m: dict[str, float] = {
            "session.get_spark_s": statistics.median(self.get_spark_s),
            "session.worker_warmup_s": statistics.median(self.warmup_s),
        }
        spark = self.spark
        if self.w.stream:
            self.stream_warmup()
            untraced = self.stream_run("untraced")["wall"]
        else:
            self.batch_rep("warm")
            untraced = self.batch_rep("untraced")[1]
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        spark.profile.clear()
        if self.w.stream:
            r = self.stream_run("traced")
            wall, build = r["wall"], r["plan_build"]
            m.update(self._stream_layers(r))
            accounted = build + sum(p["durationMs"]["triggerExecution"] for p in r["progress"]) / 1e3
        else:
            build, wall, chk = self.batch_rep("traced")
            nodes = layers.plan_nodes(chk._jdf.queryExecution().executedPlan())
            m.update(layers.fold_metrics(nodes))
            stages = layers.stage_walls(spark, "traced")
            accounted = build + sum(s[0] for s in stages)
            m.update(self._stage_shares(stages, m))
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        m.update(layers.profile_split(spark))
        profiled = m["order_book.fold_arrays_s"] + m["order_book.as_list_s"] + m["order_book.frame_build_s"]
        if profiled:  # the perf profiler does not reach the stateful stream's worker
            m["python.serde_s"] = m.get("python.total_ms", 0.0) / 1e3 - profiled
        m["order_book.plan_build_s"] = build
        m["order_book.plan_hash"] = float(int(layers.plan_fingerprint(self.plan_text)[:8], 16))
        m.update(layers.kernel_replay(self.inputs.path, self.w.fmt, self.w.n, self.w.keyed))
        m["trace.wall_s"] = wall
        m["trace.untraced_wall_s"] = untraced
        m["trace.overhead_s"] = wall - untraced
        m["trace.accounted_s"] = accounted
        m["trace.residual_s"] = wall - accounted
        # Every per-layer name is reported; a layer this workload never runs reads 0.
        return {k: m.get(k, 0.0) for k in LAYER_UNITS}

    @staticmethod
    def _stage_shares(stages: list[tuple[float, float]], m: dict) -> dict:
        """Wall seconds per layer: the first stage (scan + exchange write) and
        the fold stage (exchange read + sort + Python node) are split by each
        layer's share of the stage's summed task time."""
        def share(stage: int, task_ms: float) -> float:
            wall, run = stages[stage]
            return wall * min(1.0, task_ms / 1e3 / run) if run else 0.0

        return {
            "stage.scan_exchange_s": stages[0][0],
            "stage.fold_s": stages[1][0] if len(stages) > 1 else 0.0,
            "stage.other_s": sum(s[0] for s in stages[2:]),
            "scan.wall_s": share(0, m["scan.time_ms"]),
            "exchange.wall_s": share(0, m["exchange.write_ms"]),
            "sort.wall_s": share(1, m["sort.time_ms"]) if len(stages) > 1 else 0.0,
            "python.wall_s": share(1, m["python.total_ms"]) if len(stages) > 1 else 0.0,
        }

    def _stream_layers(self, r: dict) -> dict:
        import layers

        prog = r["progress"]

        def med(key: str) -> float:
            return statistics.median(p["durationMs"].get(key, 0) for p in prog)

        ops = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        out = {
            "stream.add_batch_ms": med("addBatch"),
            "stream.query_planning_ms": med("queryPlanning"),
            "stream.wal_commit_ms": med("walCommit"),
            "state.rows_total": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
            "state.memory_bytes": float(ops[-1]["memoryUsedBytes"]) if ops else 0.0,
            "state.commit_ms": statistics.median(o["commitTimeMs"] for o in ops) if ops else 0.0,
            "sink.write_ms": statistics.median(r["sink_ms"]) if r["sink_ms"] else 0.0,
        }
        if r["plan"] is not None:  # the last micro-batch's plan
            out.update(layers.fold_metrics(layers.plan_nodes(r["plan"])))
        return out


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_scratch()
    sys.path[:0] = [HERE, ROOT]
    import polars_order_book_spark  # noqa: F401 -- fail fast outside a checkout
    import layers

    weather = layers.HostWeather()
    bench = Bench(args.workload, args.seed, args.seconds)
    try:
        bench.setup()
        metrics = bench.traced() if args.trace else bench.end_to_end()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
            _stop_jvm()
    stamp = layers.env_stamp(ROOT, weather, layers.plan_fingerprint(bench.plan_text))
    print(json.dumps({"env": stamp}))
    correct = bench.failed == 0 and bench.wrong == 0
    print(result_line(correct, bench.attempted, bench.failed, metrics,
                      LAYER_UNITS if args.trace else E2E_UNITS))
    return 0 if correct else 1


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    })


E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "events_per_s": "events/s",
    "batch_latency_p50_ms": "ms", "batch_latency_p90_ms": "ms",
    "worker_peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.worker_warmup_s": "s",
    "order_book.plan_build_s": "s", "order_book.plan_hash": "id",
    "scan.time_ms": "ms", "scan.rows": "count",
    "exchange.bytes_written": "bytes", "exchange.write_ms": "ms",
    "exchange.fetch_wait_ms": "ms", "exchange.fold_partitions": "count",
    "sort.time_ms": "ms", "sort.peak_mem_bytes": "bytes",
    "python.total_ms": "ms", "python.boot_ms": "ms", "python.init_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "order_book.fold_arrays_s": "s", "order_book.as_list_s": "s",
    "order_book.frame_build_s": "s", "python.serde_s": "s",
    "kernel.rows_per_s": "rows/s", "kernel.emit_ratio": "ratio",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "state.rows_total": "count",
    "state.memory_bytes": "bytes", "state.commit_ms": "ms", "sink.write_ms": "ms",
    "stage.scan_exchange_s": "s", "stage.fold_s": "s", "stage.other_s": "s",
    "scan.wall_s": "s", "exchange.wall_s": "s", "sort.wall_s": "s", "python.wall_s": "s",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
    "trace.accounted_s": "s", "trace.residual_s": "s",
}


if __name__ == "__main__":
    sys.exit(main())
