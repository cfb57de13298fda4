"""polars_order_book_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of ChristopherRussell/polars-order-book.

The reference (surveyed in /root/repo/SURVEY.md) is a Polars expression plugin
computing, per input event row, the top-N price levels of a limit order book.
This package re-expresses that operator family Spark-first:

* ``operators.order_book``            — exact stateful fold (one streamed
  ``mapInPandas`` pass over the book-sorted events)
* ``operators.order_book_relational`` — pure DataFrame/window formulation
  (Catalyst-optimizable; doubles as a differential oracle)
* ``functions.conversion``            — exchange-message → event-stream helpers
  (side→is_bid, float price scaling) mirroring README.md:131-162 of the reference
* ``operators.dedup / similarity / text / multimodal`` — large-scale
  training-data pipeline operators (beyond the reference's surface)
* ``streaming.book_stream``           — Structured Streaming continuous book

Reference citations in docstrings use ``ref:`` meaning /root/reference/.
"""

from polars_order_book_spark.operators.order_book import (
    top_n_levels_from_price_updates,
    top_n_levels_from_price_mutations,
    top_n_levels_from_price_mutations_with_modify,
    OrderBookError,
    snapshot_columns,
)
from polars_order_book_spark.operators.order_book_relational import (
    top_n_levels_relational,
    modify_to_mutations,
    mutation_stream_violations,
)
from polars_order_book_spark.functions.conversion import (
    side_to_is_bid,
    scale_price,
    unscale_prices,
    signed_qty,
)
from polars_order_book_spark.functions.frames import hconcat
from polars_order_book_spark.operators.asof import asof_join
from polars_order_book_spark.operators.sampling import (
    budget_pack,
    domain_mix_sample,
    hash_sample,
    hash_split,
    pack_sequences,
    stratified_sample,
    weighted_sample,
)
from polars_order_book_spark.operators.constraints import (
    check_constraints,
    observe_quality,
)
from polars_order_book_spark.operators.diff import diff_snapshots
from polars_order_book_spark.operators.graph import pagerank, triangle_count
from polars_order_book_spark.operators.market import (
    depth_profile,
    l1_metrics,
    ohlc_bars,
    order_flow_imbalance,
    realized_variance,
    vwap_by_bucket,
)
from polars_order_book_spark.operators.timeseries import gap_fill_linear
from polars_order_book_spark.operators.merge import latest_changes, merge_upsert
from polars_order_book_spark.operators.nbbo import nbbo
from polars_order_book_spark.operators.similarity import (
    centroid_outliers,
    dequantize_int8,
    jaccard_similarity_pairs,
    quantize_int8,
    topk_recall,
)
from polars_order_book_spark.operators.text import (
    dup_span_stats,
    quality_filter,
)
from polars_order_book_spark.session import get_spark

__all__ = [
    "top_n_levels_from_price_updates",
    "top_n_levels_from_price_mutations",
    "top_n_levels_from_price_mutations_with_modify",
    "top_n_levels_relational",
    "modify_to_mutations",
    "mutation_stream_violations",
    "OrderBookError",
    "snapshot_columns",
    "side_to_is_bid",
    "scale_price",
    "unscale_prices",
    "signed_qty",
    "hconcat",
    "asof_join",
    "hash_sample",
    "hash_split",
    "budget_pack",
    "domain_mix_sample",
    "pack_sequences",
    "stratified_sample",
    "quantize_int8",
    "dequantize_int8",
    "dup_span_stats",
    "quality_filter",
    "merge_upsert",
    "latest_changes",
    "centroid_outliers",
    "pagerank",
    "diff_snapshots",
    "nbbo",
    "vwap_by_bucket",
    "l1_metrics",
    "realized_variance",
    "order_flow_imbalance",
    "ohlc_bars",
    "depth_profile",
    "triangle_count",
    "gap_fill_linear",
    "weighted_sample",
    "jaccard_similarity_pairs",
    "topk_recall",
    "check_constraints",
    "observe_quality",
    "get_spark",
]

__version__ = "0.1.0"
