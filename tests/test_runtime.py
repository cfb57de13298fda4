"""shuffle_partitions fallback chain: numeric conf, non-numeric conf (managed
runtimes report "auto" — stock Spark won't even let conf.set store it, which
is exactly why operators can't bare-int() the value), and the
DataFrame/default fallbacks."""

import pytest

from polars_order_book_spark.functions.runtime import shuffle_partitions


def test_numeric_conf_wins(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        assert shuffle_partitions(spark) == 17
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_non_numeric_conf_falls_back_to_df_partitions(spark, monkeypatch):
    # stock Spark validates the conf as numeric on set, so simulate a
    # managed runtime by patching the getter
    monkeypatch.setattr(spark.conf, "get", lambda *a, **kw: "auto")
    df = spark.range(100).repartition(5)
    assert shuffle_partitions(spark, fallback_df=df) == 5


def test_non_numeric_conf_without_df_uses_default(spark, monkeypatch):
    monkeypatch.setattr(spark.conf, "get", lambda *a, **kw: "auto")
    assert shuffle_partitions(spark, default=42) == 42


def test_stream_shuffle_width_sizes_from_input(spark, tmp_path):
    from polars_order_book_spark.functions.runtime import stream_shuffle_width

    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        # tiny input -> the floor, not the session width
        assert stream_shuffle_width(spark, str(small)) == 8
        # big input -> capped at the session conf (the production ceiling)
        big = tmp_path / "big.bin"
        big.write_bytes(b"x")
        import os
        os.truncate(big, 80 * 1024 * 1024 * 1024)  # sparse 80 GB
        assert stream_shuffle_width(spark, str(big)) == 64
        # hive-partitioned input: bytes live in nested subdirectories
        nested = tmp_path / "table" / "day=1"
        nested.mkdir(parents=True)
        (nested / "part-0.parquet").write_bytes(b"x")
        os.truncate(nested / "part-0.parquet", 80 * 1024 * 1024 * 1024)
        assert stream_shuffle_width(spark, str(tmp_path / "table")) == 64
        # missing path degrades to the floor instead of raising, and warns
        with pytest.warns(UserWarning, match="add up to 0 bytes"):
            assert stream_shuffle_width(spark, str(tmp_path / "nope")) == 8
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_scoped_stream_shuffle_sets_and_restores(spark, tmp_path):
    from polars_order_book_spark.functions.runtime import scoped_stream_shuffle

    p = tmp_path / "t.bin"
    p.write_bytes(b"x" * 100)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        with scoped_stream_shuffle(spark, str(p)) as width:
            assert width == 8
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "64"
        # restore must also run on error
        try:
            with scoped_stream_shuffle(spark, str(p)):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get("spark.sql.shuffle.partitions") == "64"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
