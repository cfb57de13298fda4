"""Registry rigs must not leak session state or temp directories.

A memory-sink table lives on the driver heap until the session stops, so a
260-query oracle gate or full-registry bench quietly accumulates every
rig's full output in the JVM that executes every later query. Every rig
that writes files does so in one ``_in_scratch`` directory (build → eager
localCheckpoint, then rmtree in a ``finally``), and every streaming rig
runs through ``_run_stream`` on top of it (start → bounded wait, then
dropTempView in a ``finally``): results must be identical AND still
readable after the directory is gone, and the catalog and temp directory
must stay clean afterwards, whether the rig succeeds, fails or times out.
"""

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _temp_tables(spark):
    return [t.name for t in spark.catalog.listTables() if t.isTemporary]


def test_memory_sink_rig_leaves_no_temp_tables(spark):
    import __spark_entry__ as E

    qs = E.queries()
    before = set(_temp_tables(spark))
    out = qs["events_user_profile_stream"](spark, SF_DIR)
    rows = out.collect()
    assert len(rows) > 0
    # schema survives the drain (eager localCheckpoint preserves it)
    assert [c for c in out.columns] == [
        "user_id", "n_events", "value_sum_micros", "last_us",
    ]
    assert set(_temp_tables(spark)) == before, "rig leaked its memory-sink table"


def test_drained_rig_matches_batch_twin(spark):
    """The drained streaming profile equals the batch aggregation it
    mirrors — the drain must not change WHAT the query computes."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from polars_order_book_spark.sources.tables import load_table

    qs = E.queries()
    got = {
        r["user_id"]: (r["n_events"], r["value_sum_micros"], r["last_us"])
        for r in qs["events_user_profile_stream"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    want = {
        r["user_id"]: (r["n_events"], r["value_sum_micros"], r["last_us"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
            ).alias("value_sum_micros"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("parquet", [False, True], ids=["memory", "parquet"])
def test_failed_rig_leaves_nothing_behind(spark, tmp_path, monkeypatch, parquet):
    """A rig whose stream fails raises the stream's own exception, and its
    memory-sink view, checkpoint and output directory are gone afterwards;
    the same rig over valid input returns its rows and cleans up too."""
    import __spark_entry__ as E
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    src = tmp_path / "in"
    spark.range(10).write.parquet(str(src))
    rigs_tmp = tmp_path / "rigs"
    rigs_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(rigs_tmp))

    def stream(limit):
        ev = spark.readStream.schema("id long").parquet(str(src))
        return ev.select(
            "id", F.assert_true(F.col("id") < limit, "id past limit").alias("ok")
        )

    before = set(_temp_tables(spark))
    with pytest.raises(StreamingQueryException, match="id past limit"):
        E._run_stream(stream(5), "append", str(src), parquet=parquet)
    assert set(_temp_tables(spark)) == before, "failed rig leaked its view"
    assert not os.listdir(rigs_tmp), "failed rig left its temp directory"

    out = E._run_stream(
        stream(100), "append", str(src), lambda t: t.select("id"), parquet=parquet
    )
    assert sorted(r.id for r in out.collect()) == list(range(10))
    assert set(_temp_tables(spark)) == before
    assert not os.listdir(rigs_tmp)


def test_await_stops_a_query_that_runs_out_of_time():
    import __spark_entry__ as E

    class Slow:
        name, id, stopped = "slow", "id-1", False

        def awaitTermination(self, timeout):
            assert timeout == 600
            return False

        def stop(self):
            self.stopped = True

    q = Slow()
    with pytest.raises(TimeoutError, match="slow did not finish within 600s"):
        E._await(q)
    assert q.stopped


def test_scratch_build_that_raises_leaves_nothing_behind(tmp_path, monkeypatch):
    """A build that writes into its scratch directory and then fails
    raises its own exception, and the directory is gone afterwards."""
    import __spark_entry__ as E

    rigs_tmp = tmp_path / "rigs"
    rigs_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(rigs_tmp))

    def build(tmp):
        with open(os.path.join(tmp, "partial.parquet"), "w") as fh:
            fh.write("half a file")
        raise ValueError("build failed mid-write")

    with pytest.raises(ValueError, match="build failed mid-write"):
        E._in_scratch(build)
    assert not os.listdir(rigs_tmp), "failed build left its scratch directory"


@pytest.mark.parametrize("name", ["sink_roundtrip", "orders_merge_stream"])
def test_file_writing_rig_outlives_its_scratch_dir(spark, tmp_path, monkeypatch, name):
    """A rig that writes files returns a result that still collects after
    its builder returns, with nothing left in the temp directory."""
    import __spark_entry__ as E

    rigs_tmp = tmp_path / "rigs"
    rigs_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(rigs_tmp))

    out = E.queries()[name](spark, SF_DIR)
    assert not os.listdir(rigs_tmp), f"{name} left its temp directory"
    assert len(out.collect()) > 0
