"""Streaming ANN: micro-batched query stream against a static cached corpus.

Per-batch answers must equal the batch LSH operator's on the same queries
(a query id lives in exactly one micro-batch, so per-batch top-k is final),
regardless of how the stream chops the query set.
"""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from polars_order_book_spark.operators import similarity
from polars_order_book_spark.streaming.similarity_stream import (
    read_results,
    topk_stream,
)


def _write_query_batches(tmp, spark, queries, n_batches=3):
    """Split queries into n parquet files consumed one per micro-batch."""
    in_dir = os.path.join(tmp, "in")
    os.makedirs(in_dir)
    for i in range(n_batches):
        part = queries.where(F.col("query_id") % n_batches == i)
        pdir = os.path.join(tmp, f"part_{i}")
        part.coalesce(1).write.parquet(pdir)
        pq = [f for f in os.listdir(pdir) if f.endswith(".parquet")][0]
        os.rename(os.path.join(pdir, pq), os.path.join(in_dir, f"{i:03d}.parquet"))
    return in_dir


def test_topk_stream_matches_batch_lsh(spark, tmp_path):
    rng = np.random.default_rng(17)
    rows = [(i, rng.normal(size=64).tolist()) for i in range(120)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.where(F.col("vec_id") < 9).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    tmp = str(tmp_path)
    in_dir = _write_query_batches(tmp, spark, queries)
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = topk_stream(
        stream,
        corpus,
        os.path.join(tmp, "out"),
        os.path.join(tmp, "ckpt"),
        k=5,
        n_planes=6,
    )
    assert q.awaitTermination(300), "stream did not finish"
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in read_results(spark, os.path.join(tmp, "out")).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in similarity.cosine_topk_lsh(corpus, queries, k=5, n_planes=6).collect()
    }
    assert got == want
    assert len({qid for qid, _ in got}) > 0


def test_topk_stream_empty_batches_append_nothing(spark, tmp_path):
    rng = np.random.default_rng(19)
    rows = [(i, rng.normal(size=64).tolist()) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # no queries at all: the sink directory must not be created as a parquet
    # table with rows; reading then fails or yields nothing
    empty = corpus.where(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    tmp = str(tmp_path)
    in_dir = os.path.join(tmp, "in")
    empty.coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(empty.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = topk_stream(
        stream, corpus, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt"), k=3
    )
    assert q.awaitTermination(300)
    out_dir = os.path.join(tmp, "out")
    if os.path.isdir(out_dir) and any(
        f.endswith(".parquet") for f in os.listdir(out_dir)
    ):
        assert read_results(spark, out_dir).count() == 0


def test_topk_stream_replay_overwrites_instead_of_duplicating(spark, tmp_path):
    """r8 self-review: the sink writes each batch to its own batch_id=N
    directory with overwrite, so a REPLAYED batch (simulated here by
    deleting the checkpoint and re-running the whole stream over the same
    out_path) rewrites the same paths instead of appending a full duplicate
    copy of every result."""
    import shutil

    rng = np.random.default_rng(23)
    rows = [(i, rng.normal(size=64).tolist()) for i in range(60)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    tmp = str(tmp_path)
    in_dir = _write_query_batches(tmp, spark, queries)
    out, ckpt = os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")

    def run():
        stream = (
            spark.readStream.schema(queries.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = topk_stream(stream, corpus, out, ckpt, k=5, n_planes=6)
        assert q.awaitTermination(300)

    run()
    first = sorted(
        map(tuple, read_results(spark, out).collect())
    )
    shutil.rmtree(ckpt)  # forget progress -> every batch replays
    run()
    second = sorted(
        map(tuple, read_results(spark, out).collect())
    )
    assert second == first  # no duplicates, same results
