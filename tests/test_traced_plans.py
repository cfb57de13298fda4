"""Every fold plan keeps a Python node that perfbench's traced run reads.

``perfbench/layers.py`` finds a fold's layer metrics under the first plan
node named in ``PYTHON_NODES``; a plan without one makes ``fold_metrics``
raise and the traced benchmark run fail. These tests execute the unkeyed and
keyed batch folds, ``nbbo`` and ``top_n_levels_stream`` and read their
executed plans with the benchmark's own helpers, imported read-only, so a
change of Python node (say, to ``MapInArrow``) fails here first.
"""

import importlib.util
import os

import pytest

from polars_order_book_spark import (
    nbbo,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_updates,
)
from polars_order_book_spark.streaming import top_n_levels_stream

_LAYERS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "layers.py"
)
_spec = importlib.util.spec_from_file_location("perfbench_layers", _LAYERS)
layers = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(layers)

EVENTS = "book long, seq long, is_bid boolean, price long, qty long"


def _events(spark):
    rows = [(s % 3, s, s % 2 == 0, 100 + s % 5, 1 + s % 4) for s in range(24)]
    return spark.createDataFrame(rows, EVENTS)


def _assert_traceable(jplan):
    nodes = layers.plan_nodes(jplan)
    names = [name for name, _ in nodes]
    assert any(name in layers.PYTHON_NODES for name in names), names
    assert "python.total_ms" in layers.fold_metrics(nodes)


@pytest.mark.parametrize("plan", ["unkeyed", "keyed", "nbbo"])
def test_batch_fold_plan_has_a_traced_python_node(spark, plan):
    ev = _events(spark)
    if plan == "unkeyed":
        out = top_n_levels_from_price_updates(ev.drop("book"), n=2)
    else:
        out = top_n_levels_from_price_mutations(ev, by=["book"], n=1)
    if plan == "nbbo":
        out = nbbo(out, books=[0, 1, 2])
    out.collect()
    _assert_traceable(out._jdf.queryExecution().executedPlan())


def test_stream_fold_plan_has_a_traced_python_node(spark, tmp_path):
    ev = _events(spark)
    ev.write.parquet(str(tmp_path / "in"))
    src = spark.readStream.schema(ev.schema).parquet(str(tmp_path / "in"))
    q = (
        top_n_levels_stream(src, "mutations", by=["book"], n=1)
        .writeStream.format("memory").queryName("traced_plan_guard")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        last = q._jsq.streamingQuery().lastExecution()
        assert last is not None
        _assert_traceable(last.executedPlan())
    finally:
        q.stop()
        spark.catalog.dropTempView("traced_plan_guard")
