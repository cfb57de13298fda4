"""Max/median task-time skew probe for the salted-join users (r10 verdict
item 8): runs the named queries at the given SF with the Spark UI enabled,
then reads per-stage task summaries from the UI REST API and reports the
worst max/median task-duration ratio among stages with >= 8 tasks (salting
is about bounding the heaviest task, so single-task stages are excluded).

Usage: python tools/skew_probe.py <sf_dir> <query1,query2,...>
"""
import json
import sys
import time
import urllib.request

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2].split(",")
    import __spark_entry__ as E
    from pyspark.sql import SparkSession, functions as F

    # the package session factory disables the UI; the probe needs it
    import polars_order_book_spark.session as S
    orig = S.get_spark

    def get_spark_ui(app_name="skew_probe", cpus=None, state_store=None):
        import os
        if cpus is None:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        b = (SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
             .config("spark.ui.enabled", "true")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.shuffle.partitions", str(int(cpus)))
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.driver.memory", "8g")
             .config("spark.sql.session.timeZone", "UTC"))
        return b.getOrCreate()

    S.get_spark = get_spark_ui
    spark = get_spark_ui()
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    def checksum(df):
        return df.select(
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("cs"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]["n"]

    app_id = spark.sparkContext.applicationId
    ui = spark.sparkContext.uiWebUrl

    for name in names:
        spark.sparkContext.setJobDescription(f"skew_probe:{name}")
        before = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages?status=complete"))
        seen = {s["stageId"] for s in before}
        t0 = time.time()
        n = checksum(qs[name](spark, sf_dir))
        wall = time.time() - t0
        stages = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages?status=complete"))
        worst = None
        for s in stages:
            if s["stageId"] in seen or s["numCompleteTasks"] < 8:
                continue
            q = json.load(urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.0,0.5,1.0"))
            med, mx = q["executorRunTime"][1], q["executorRunTime"][2]
            if med > 50:  # ignore sub-50ms-median stages: constant overheads dominate
                ratio = mx / max(med, 1.0)
                row = {"stage": s["stageId"], "tasks": s["numCompleteTasks"],
                       "med_ms": round(med), "max_ms": round(mx), "ratio": round(ratio, 2),
                       "name": s["name"].split()[0]}
                if worst is None or row["ratio"] > worst["ratio"]:
                    worst = row
        print(json.dumps({"query": name, "rows": n, "wall_sec": round(wall, 1),
                          "worst_stage": worst}))
    spark.stop()


if __name__ == "__main__":
    main()
