"""Frequent-items (heavy hitters) over unbounded-cardinality columns.

Completes the sketch family (HLL distinct counts, approx quantiles already
registered): find every item whose frequency is at least ``support`` of the
rows, WITHOUT shuffling one row per distinct item.

Shape — sketch-prune + exact-verify (the same pattern the ANN operators use):

1. **Prune** (mapInPandas): each partition builds a mergeable Misra-Gries
   summary of at most k counters (Agarwal et al., "Mergeable Summaries",
   PODS'12): per Arrow batch, add the batch's exact value_counts, then if
   more than k counters remain subtract the (k+1)-th largest count from all
   and drop the non-positives. The classic guarantee survives batching: the
   per-partition undercount is at most n_p/(k+1), so with
   k = ceil(1/support)+1 every item whose GLOBAL count ≥ support·N must, by
   pigeonhole, exceed the error bound in at least one partition and therefore
   survives into the candidate set. Candidates ≤ partitions·k — tiny,
   broadcastable — versus a full groupBy's one-row-per-distinct-item shuffle.
2. **Verify** (exact): broadcast-semi-join the rows to the candidate set,
   one exact groupBy count over candidate rows only, keep count ≥
   ceil(support·N). Output is EXACT (the sketch can only over-admit, never
   lose a qualifying item — pinned by an adversarial property test), so the
   DuckDB oracle is a plain GROUP BY/HAVING.

Null items are excluded up front (documented; N counts non-null rows) — the
candidate equi-join would silently drop them anyway, and a silent
null-vs-excluded ambiguity is worse than a stated rule.

At 100 TB: stage 1 is map-only with O(k) state per task; stage 2 shuffles
only candidate-matching rows (≤ N but concentrated on few keys — the
groupBy's map-side partial agg collapses them before the exchange). The
skew objection to per-key shuffles does not apply: partial aggregation
reduces each partition's contribution to ≤ |candidates| rows.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from polars_order_book_spark.operators.order_book import _register_self_by_value


# Ship by value: the mapInPandas closure references module-level _mg_merge
# (same contract as operators/order_book.py).
_register_self_by_value(__name__)


def _mg_merge_tracked(
    summary: "pd.Series | None", batch_counts: pd.Series, k: int
) -> "tuple[pd.Series, int]":
    """Merge exact batch counts into a Misra-Gries summary of ≤ k counters,
    returning (summary, cut) where ``cut`` is the amount subtracted from
    every counter this merge (0 when no pruning happened).

    Mergeable-summaries rule: sum counters, then subtract the (k+1)-th
    largest value from every counter and drop the non-positive ones. The
    cumulative cut across merges bounds every item's undercount: for any
    item, true_count - Σcuts ≤ counter ≤ true_count (absent items have
    counter 0), which is what the streaming operator surfaces as its error
    bound."""
    merged = batch_counts if summary is None else summary.add(batch_counts, fill_value=0)
    cut = 0
    if len(merged) > k:
        cut = int(merged.nlargest(k + 1).iloc[k])
        merged = merged - cut
        merged = merged[merged > 0]
    return merged, cut


def _mg_merge(summary: "pd.Series | None", batch_counts: pd.Series, k: int) -> pd.Series:
    """:func:`_mg_merge_tracked` without the cut (the batch prune stage only
    needs the surviving counters)."""
    return _mg_merge_tracked(summary, batch_counts, k)[0]


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    *,
    support: float = 0.01,
    k: int | None = None,
) -> DataFrame:
    """Exact heavy hitters: every non-null item with count ≥ ceil(support·N).

    Returns (item_col, n long, support double) — support = n / N over the
    non-null rows. ``k`` RAISES the sketch width above the guarantee minimum
    ceil(1/support)+1 (more counters → fewer over-admitted candidates to
    verify); values below the minimum are clamped up, because a narrower
    summary could prune a qualifying item and silently break exactness. The
    plan is fully lazy — N rides along as a one-row broadcast, no
    driver-side count.

    Two passes over the data, not three: the sketch pass also emits one
    null-item row per partition carrying the partition's row count (nulls
    cannot collide — null items are excluded before the sketch), so N is an
    aggregate of the partitions-sized summary relation instead of a third
    full scan; the summary is lazily localCheckpoint-ed because both the
    candidate set and N read it. The only other full scan is the exact
    verify.

    Rounding rule: the threshold is ceil(support · N) computed in EXACT
    decimal arithmetic — ``support`` is rendered via its shortest decimal
    string (0.0075 stays 0.0075, never the binary-double neighbour), so
    e.g. support=0.07, N=100 thresholds at exactly 7, where binary-double
    0.07*100 = 7.000000000000001 would have rounded up to 8 and dropped a
    true 7-count hitter. DuckDB's decimal literals make the oracle take the
    same exact path.
    """
    if not (0 < support <= 1):
        raise ValueError(f"support must be in (0, 1], got {support}")
    import math

    kk = max(k or 0, math.ceil(1.0 / support) + 1)

    items = df.select(F.col(item_col).alias("__item")).where(
        F.col("__item").isNotNull()
    )
    item_field = items.schema["__item"]
    summary_schema = StructType(
        [StructField("__item", item_field.dataType, True),
         StructField("__lb", LongType(), False)]
    )

    def sketch(batches):
        summary = None
        n_part = 0
        for pdf in batches:
            if pdf.empty:
                continue
            n_part += int(len(pdf))
            counts = pdf["__item"].value_counts(sort=False)
            summary = _mg_merge(summary, counts, kk)
        if summary is not None and len(summary):
            yield pd.DataFrame(
                {"__item": summary.index, "__lb": summary.to_numpy().astype("int64")}
            )
        if n_part:
            # partition-total row (null item — cannot collide, nulls are
            # excluded above): N rides in the summary relation, no third scan
            yield pd.DataFrame({"__item": [None], "__lb": pd.Series([n_part], dtype="int64")})

    summaries = items.mapInPandas(sketch, summary_schema).localCheckpoint(eager=False)
    candidates = (
        summaries.where(F.col("__item").isNotNull())
        .groupBy("__item")
        .agg(F.sum("__lb").alias("__lb"))
        .select("__item")
    )
    total = summaries.where(F.col("__item").isNull()).agg(
        F.sum("__lb").alias("__N")
    )
    exact = (
        items.join(F.broadcast(candidates), on="__item", how="left_semi")
        .groupBy("__item")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from decimal import Decimal

    support_dec = Decimal(str(support))
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("n") >= F.ceil(F.lit(support_dec) * F.col("__N")))
        .select(
            F.col("__item").alias(item_col),
            F.col("n"),
            (F.col("n").cast("double") / F.col("__N").cast("double")).alias("support"),
        )
    )


def heavy_hitters_by(
    df: DataFrame,
    keys: "list[str] | str",
    item_col: str,
    *,
    support: float = 0.01,
    k: int | None = None,
) -> DataFrame:
    """Per-segment exact heavy hitters: for every key group, every non-null
    item with count ≥ ceil(support · N_key), N_key = the group's non-null
    rows. The shape real curation uses (top domains per lang, top users per
    hour). Returns (*keys, item_col, n long, support double).

    Same sketch-prune + exact-verify as :func:`heavy_hitters`, generalized
    per key: the Misra-Gries summary is mergeable, so each partition keeps an
    independent ≤ k-counter summary PER KEY it sees (state = O(keys-in-task ·
    k)); the pigeonhole no-false-negative argument applies within each key
    unchanged (per-partition per-key undercount ≤ n_{p,key}/(k+1)). The
    verify stage is one exact groupBy(keys, item) over candidate-matching
    rows, thresholded against the per-key totals — a keys-sized relation,
    broadcast. Null keys AND null items are excluded up front (documented
    rule, like :func:`heavy_hitters`'s null items: the candidate equi-join
    would silently drop null-key rows anyway, and a silent null-vs-excluded
    ambiguity is worse than a stated one). The threshold is exact decimal,
    same rounding rule as :func:`heavy_hitters`.
    """
    if not (0 < support <= 1):
        raise ValueError(f"support must be in (0, 1], got {support}")
    import math
    from decimal import Decimal

    keys = [keys] if isinstance(keys, str) else list(keys)
    kk = max(k or 0, math.ceil(1.0 / support) + 1)
    support_dec = Decimal(str(support))

    rows = df.select(
        *[F.col(c) for c in keys], F.col(item_col).alias("__item")
    ).where(F.col("__item").isNotNull())
    for c in keys:
        rows = rows.where(F.col(c).isNotNull())
    summary_schema = StructType(
        [
            *[rows.schema[c] for c in keys],
            StructField("__item", rows.schema["__item"].dataType, True),
            StructField("__lb", LongType(), False),
        ]
    )

    def sketch(batches):
        summaries: dict = {}  # key tuple -> pd.Series(item -> lb)
        part_n: dict = {}  # key tuple -> partition row count
        for pdf in batches:
            if pdf.empty:
                continue
            for kt, grp in pdf.groupby(keys, dropna=False, sort=False):
                kt = kt if isinstance(kt, tuple) else (kt,)
                part_n[kt] = part_n.get(kt, 0) + int(len(grp))
                counts = grp["__item"].value_counts(sort=False)
                summaries[kt] = _mg_merge(summaries.get(kt), counts, kk)
        out = []
        for kt, s in summaries.items():
            if s is None or not len(s):
                continue
            d = {c: [kt[i]] * len(s) for i, c in enumerate(keys)}
            d["__item"] = s.index
            d["__lb"] = s.to_numpy().astype("int64")
            out.append(pd.DataFrame(d))
        for kt, np_ in part_n.items():
            # per-(partition, key) total row (null item — cannot collide):
            # the per-key N aggregates from the summary relation, no third
            # full scan (same trick as heavy_hitters)
            d = {c: [kt[i]] for i, c in enumerate(keys)}
            d["__item"] = [None]
            d["__lb"] = pd.Series([np_], dtype="int64")
            out.append(pd.DataFrame(d))
        if out:
            yield pd.concat(out, ignore_index=True)

    summaries_df = rows.mapInPandas(sketch, summary_schema).localCheckpoint(
        eager=False
    )
    candidates = (
        summaries_df.where(F.col("__item").isNotNull())
        .groupBy(*keys, "__item")
        .agg(F.sum("__lb").alias("__lb"))
        .select(*keys, "__item")
    )
    totals = (
        summaries_df.where(F.col("__item").isNull())
        .groupBy(*keys)
        .agg(F.sum("__lb").alias("__N"))
    )
    # No broadcast HINTS here, unlike the unkeyed operator: candidates and
    # totals are per-key relations (≤ k counters / 1 row per key), so their
    # size scales with the segment count — tiny for (lang, hour)-style keys,
    # arbitrarily large for high-cardinality ones. AQE picks broadcast when
    # they are actually small; forcing it would OOM the many-key case.
    exact = (
        rows.join(candidates, on=[*keys, "__item"], how="left_semi")
        .groupBy(*keys, "__item")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.join(totals, on=keys)
        .where(F.col("n") >= F.ceil(F.lit(support_dec) * F.col("__N")))
        .select(
            *keys,
            F.col("__item").alias(item_col),
            F.col("n"),
            (F.col("n").cast("double") / F.col("__N").cast("double")).alias("support"),
        )
    )


def heavy_hitters_by_count(
    df: DataFrame,
    keys: "list[str] | str",
    item_col: str,
    *,
    min_count: int,
) -> DataFrame:
    """Per-segment heavy hitters with an ABSOLUTE count threshold: for every
    key group, every non-null item occurring at least ``min_count`` times.
    Returns (*keys, item_col, n long, support double) — the same schema as
    :func:`heavy_hitters_by`, with ``support`` reported informationally.

    This is the scale-aware sibling of :func:`heavy_hitters_by` for growing
    corpora: a RELATIVE support threshold dilutes as data grows — at 10× the
    events, ceil(support·N_key) grows 10× while per-item counts may not, and
    the sf1 sweep measured exactly that (0 qualifying rows at sf1,
    SCALE.md §r9-7). An absolute threshold keeps reporting the same "items
    with ≥ min_count observations" contract at every scale.

    Shape: NO sketch pass. The Misra-Gries prune exists because a relative
    threshold admits candidate sets that can't be bounded before N is known;
    with an absolute threshold the qualifying set is bounded a priori at
    N/min_count items, and one exact groupBy(keys, item) with map-side
    partial aggregation is both simpler and cheaper than sketch + verify —
    two shuffles total (the exact count and the per-key totals join), both
    on shrinking relations. Null keys and null items are excluded up front,
    the same documented rule as :func:`heavy_hitters_by`.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    keys = [keys] if isinstance(keys, str) else list(keys)
    rows = df.select(
        *[F.col(c) for c in keys], F.col(item_col).alias("__item")
    ).where(F.col("__item").isNotNull())
    for c in keys:
        rows = rows.where(F.col(c).isNotNull())
    totals = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__N"))
    exact = (
        rows.groupBy(*keys, "__item")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= int(min_count))
    )
    return exact.join(totals, on=keys).select(
        *keys,
        F.col("__item").alias(item_col),
        F.col("n"),
        (F.col("n").cast("double") / F.col("__N").cast("double")).alias("support"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005)
# ---------------------------------------------------------------------------
#
# The third mergeable frequency sketch alongside HLL (distinct counts,
# operators/profiling.py) and Misra-Gries (heavy hitters, above): a FIXED
# depth×width grid of counters supporting point frequency estimates with a
# one-sided error (estimate ≥ true count; over by ≤ 2N/width w.p. 1-2^-depth).
# Unlike Misra-Gries it answers queries about ANY item after the fact, and two
# sketches over disjoint row sets merge by cell-wise addition — the property
# that makes per-hour / per-shard rollups work at 100 TB.
#
# Everything is JVM-side built-ins: the d hash rows are the portable
# md5-derived hash64 (functions/hashing.py) of "<i>:<item>" mod width, so a
# DuckDB oracle reproduces every counter bit-for-bit. Build is one groupBy
# over a BOUNDED key space (≤ depth·width cells): map-side partial
# aggregation collapses each task's contribution to ≤ depth·width rows
# regardless of input size or item skew, so the exchange is
# O(tasks · depth · width), not O(distinct items) — the reason to sketch at
# all. Estimation broadcasts the (tiny) sketch.

from polars_order_book_spark.functions.hashing import hash64


def _cm_cell(item: "F.Column", i: int, width: int) -> "F.Column":
    return F.pmod(hash64(F.concat(F.lit(f"{i}:"), item.cast("string"))), F.lit(width))


def countmin_build(
    df: DataFrame,
    item_col: str,
    *,
    depth: int = 4,
    width: int = 512,
    segment_cols: "list[str] | None" = None,
) -> DataFrame:
    """Build a count-min sketch of ``item_col`` as a relation
    (*segment_cols, row int, cell int, n long). Null items are excluded
    (documented rule shared with :func:`heavy_hitters`). With
    ``segment_cols``, one independent sketch per segment (per hour, per
    shard); :func:`countmin_merge` folds segments away by cell-wise addition
    and is EXACTLY the sketch built flat (pinned by test).

    The sketch carries its build parameters as ``depth``/``width`` columns
    (r8 self-review): a probe with mismatched parameters hashes to the
    wrong cells and the left join's coalesce(n, 0) would SILENTLY estimate
    0 for heavily-counted items — inverting the "sketch proves absence"
    guarantee — so :func:`countmin_estimate` asserts the metadata per row
    instead of trusting the caller.
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1, width >= 2; got {depth}, {width}")
    segs = list(segment_cols or [])
    item = F.col(item_col)
    rows = df.where(item.isNotNull()).select(
        *segs,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    _cm_cell(item, i, width).alias("cell"),
                )
                for i in range(depth)
            ])
        ).alias("rc"),
    )
    return rows.groupBy(*segs, "rc.row", "rc.cell").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "*",
        F.lit(depth).cast("int").alias("depth"),
        F.lit(width).cast("int").alias("width"),
    )


def countmin_merge(sketch: DataFrame) -> DataFrame:
    """Merge segmented sketches into one: cell-wise sum over every non-(row,
    cell) column. Linearity of the grid makes this exact — the merged sketch
    equals the sketch of the unioned rows. The (depth, width) metadata rides
    through the groupBy: sketches built with DIFFERENT parameters keep
    distinct (depth, width, row, cell) rows instead of summing incompatible
    grids, and :func:`countmin_estimate`'s per-row assert turns that misuse
    into a loud error at probe time."""
    return sketch.groupBy("depth", "width", "row", "cell").agg(F.sum("n").alias("n"))


def countmin_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    *,
    depth: "int | None" = None,
    width: "int | None" = None,
) -> DataFrame:
    """Point-estimate each item in ``items`` (distinct, non-null) against an
    (un-segmented) sketch: min over the depth cells the item hashes to.
    Returns (item_col, est_n long). Items hashing to an empty cell estimate
    0 (the sketch proves absence). The sketch is ≤ depth·width rows —
    broadcast, so the probe is a map-only join on the 100 TB side.

    ``depth``/``width`` default to the sketch's own metadata columns (one
    first() over the tiny sketch relation); passing them explicitly is
    validated per sketch row with assert_true — a mismatch means the probe
    hashes to the wrong cells and every estimate would silently read 0."""
    if depth is None or width is None:
        head = sketch.select("depth", "width").first()
        if head is None:
            raise ValueError(
                "countmin_estimate: empty sketch and no explicit depth/width"
            )
        depth = depth if depth is not None else int(head["depth"])
        width = width if width is not None else int(head["width"])
    meta_ok = F.assert_true(
        (F.col("depth") == F.lit(int(depth))) & (F.col("width") == F.lit(int(width))),
        F.concat(
            F.lit(
                f"countmin_estimate: probe parameters (depth={depth}, "
                f"width={width}) do not match the sketch's build parameters ("
            ),
            F.col("depth"), F.lit("x"), F.col("width"),
            F.lit(") — estimates would silently read the wrong cells"),
        ),
    )
    checked = sketch.where(meta_ok.isNull()).select("row", "cell", "n")
    probes = items.where(F.col(item_col).isNotNull()).select(
        item_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    _cm_cell(F.col(item_col), i, width).alias("cell"),
                )
                for i in range(depth)
            ])
        ).alias("rc"),
    ).select(item_col, "rc.row", "rc.cell")
    joined = probes.join(F.broadcast(checked), ["row", "cell"], "left")
    return joined.groupBy(item_col).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_n")
    )


# --- HyperLogLog sketch rollup (mergeable distinct counting) -----------------
#
# approx_count_distinct answers "distinct now" but its sketch is gone after
# the query. The datasketches-backed hll_sketch_agg / hll_union_agg surface
# (Spark 3.5+) makes the sketch itself a VALUE: persist one binary sketch per
# (segment, day) partition, then answer any later rollup — week, month,
# arbitrary segment union — by unioning sketch bytes WITHOUT rescanning the
# raw 100 TB. That store-then-union shape is the entire point; estimates are
# within ~1.04/sqrt(2^lg_k) relative error (~1.6% at lg_k=12).


def hll_build(
    df: DataFrame,
    item_col: str,
    *,
    segment_cols: "list[str] | None" = None,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch per segment: (*segment_cols, sketch binary, est long).
    Null items are excluded (the shared null rule of this module). The agg is
    a single map-side-partial groupBy — each task contributes one ≤2^lg_k
    register block per segment, so the exchange is segments-sized, not
    data-sized."""
    if not 4 <= lg_k <= 21:
        raise ValueError(f"lg_k must be in [4, 21], got {lg_k}")
    segs = list(segment_cols or [])
    item = F.col(item_col)
    sk = df.where(item.isNotNull()).groupBy(*segs).agg(
        F.hll_sketch_agg(item, F.lit(lg_k)).alias("sketch")
    )
    return sk.select(
        *segs, "sketch", F.hll_sketch_estimate("sketch").alias("est")
    )


def hll_union(sketches: DataFrame, *, group_cols: "list[str] | None" = None) -> DataFrame:
    """Union sketch rows into coarser scopes: (*group_cols, sketch, est).
    Exactly the rollup-without-rescan move — distinct users for any segment
    union is one tiny agg over stored sketch bytes. With no group_cols the
    result is a single global row."""
    segs = list(group_cols or [])
    merged = sketches.groupBy(*segs).agg(
        F.hll_union_agg("sketch").alias("sketch")
    )
    return merged.select(
        *segs, "sketch", F.hll_sketch_estimate("sketch").alias("est")
    )


# --- mergeable fixed-bin value histograms (quantile rollup) ----------------


def _bin_expr(value_col: str, lo: float, hi: float, n_bins: int) -> "F.Column":
    """THE clamped-bin expression, defined once: every consumer
    (:func:`value_histogram` pass, both exact-quantile selection passes)
    must assign the SAME bin to the same value to the bit — a drifted copy
    would silently mis-route rows between histogram and selection. Order of
    IEEE ops mirrors the SQL oracles exactly."""
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(float(n_bins)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("long")


def _finite(value_col: str) -> "F.Column":
    """Rows the histogram family counts: non-null AND non-NaN. NaN must be
    excluded explicitly — Spark's floor(NaN) is (long) 0 (bin 0) while
    DuckDB's floor(NaN) = NaN clamps to the LAST bin, so a single NaN would
    silently break the cross-engine bit-identity of every bin count. The
    registered oracles carry the same ``NOT isnan(...)`` filter."""
    v = F.col(value_col).cast("double")
    return v.isNotNull() & ~F.isnan(v)


def value_histogram(
    df: DataFrame,
    value_col: str,
    keys: "list[str]",
    *,
    lo: float,
    hi: float,
    n_bins: int = 64,
    weight_col: "str | None" = None,
) -> DataFrame:
    """Fixed-bin histogram of ``value_col`` per key group: the mergeable
    quantile summary completing the sketch-rollup family (HLL = distinct,
    count-min = counts, this = quantiles). Returns ``keys + [bin, n]``.

    Bin = ``floor((v - lo) / (hi - lo) * n_bins)`` clamped to
    ``[0, n_bins-1]`` — out-of-range values land in the edge bins (a
    histogram over a declared domain, not a silent drop). The bin expression
    is the same IEEE double ops in the same order as the SQL oracle, so bin
    assignment is bit-deterministic cross-engine. Nulls and NaNs are
    excluded (counts cover finite rows; see :func:`_finite` for why NaN
    cannot be binned portably).

    Scale: one groupBy over (keys x <=n_bins) cells with map-side partial
    aggregation — the shuffle carries at most cells-per-partition rows,
    never one row per distinct value. Persist (keys, bin, n) per day and any
    later window's quantiles come from :func:`histogram_merge` over the
    stored cells — the rollup-without-rescan move.

    ``weight_col``: integer weights summed per bin instead of row counts —
    WEIGHTED quantiles downstream (e.g. doc length weighted by token count:
    "where do the tokens live", the tokenizer-budget question). Rows with a
    NULL weight are excluded like NULL values (a weightless row cannot
    shift a weighted rank); weights must be non-negative integers for the
    rank arithmetic to stay exact.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    filtered = df.where(_finite(value_col))
    if weight_col is None:
        n = F.count(F.lit(1))
    else:
        filtered = filtered.where(F.col(weight_col).isNotNull())
        n = F.sum(F.col(weight_col).cast("long"))
    return (
        filtered.groupBy(*keys, _bin_expr(value_col, lo, hi, n_bins).alias("bin"))
        .agg(n.alias("n"))
    )


def histogram_merge(hist: DataFrame, keys: "list[str]") -> DataFrame:
    """Union stored histogram cells down to ``keys``: e.g. per-(type, day)
    cells merge to per-type by summing counts per bin. This is the reuse
    step — weekly/monthly/any-segment quantiles from stored daily cells,
    never rescanning raw rows. Exact integer sums, order-independent."""
    return hist.groupBy(*keys, "bin").agg(F.sum("n").alias("n"))


def histogram_quantiles(
    hist: DataFrame,
    keys: "list[str]",
    probs: "list[tuple[int, int]]",
    *,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Quantile estimates from histogram cells: for each ``(num, den)``
    probability the estimate is the UPPER EDGE of the first bin whose
    cumulative count reaches rank ``ceil(num*N/den)``.

    The rank is pure integer arithmetic — ``floor((num*N + den - 1) / den)``
    — never a float ceil (a double ``0.9*N`` can round past the true
    rational and shift the rank by one; the r5 heavy-hitters advice). The
    only floats are the final edge values ``lo + (bin+1)*(hi-lo)/n_bins``,
    identical IEEE expressions in the SQL oracle. Error is bounded by one
    bin width by construction.

    Returns ``keys + [prob, est, n_total]``; ``prob`` is num/den as a
    double (same single division both engines). Probs explode map-side
    (x len(probs)) over the cells relation — no join, no BNLJ.
    """
    for num, den in probs:
        if not (0 < num <= den):
            raise ValueError(f"prob must satisfy 0 < num <= den, got {num}/{den}")
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    cum = hist.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "n_total", F.sum("n").over(w_all)
    )
    pr = F.explode(
        F.array(*[
            F.struct(
                F.lit(num).cast("long").alias("num"),
                F.lit(den).cast("long").alias("den"),
            )
            for num, den in probs
        ])
    ).alias("pr")
    exploded = cum.select(*keys, "bin", "cum", "n_total", pr).select(
        *keys, "bin", "cum", "n_total",
        F.col("pr.num").alias("num"), F.col("pr.den").alias("den"),
    )
    # integer DIV, never a float ceil: rank = ceil(num*N/den) exactly
    rank = F.expr("(num * n_total + den - 1) DIV den")
    width = F.lit(float(hi - lo)) / F.lit(float(n_bins))
    est_bin = F.min(F.when(F.col("cum") >= rank, F.col("bin"))).alias("__qbin")
    out = (
        exploded.groupBy(*keys, "num", "den")
        .agg(est_bin, F.max("n_total").alias("n_total"))
        .select(
            *keys,
            (F.col("num").cast("double") / F.col("den").cast("double")).alias("prob"),
            (F.lit(float(lo)) + (F.col("__qbin") + F.lit(1)) * width).alias("est"),
            "n_total",
        )
    )
    return out


def exact_quantile_two_pass(
    df: DataFrame,
    value_col: str,
    probs: "list[tuple[int, int]]",
    *,
    lo: float,
    hi: float,
    n_bins: int = 1024,
) -> "list[tuple[float, float, int]]":
    """EXACT quantiles without a global sort: histogram pass + bin-local
    rank selection. Returns ``[(prob, value, n_total), ...]`` driver-side.

    Pass 1 builds a global fixed-bin histogram (:func:`value_histogram`,
    one map-side-combined shuffle of <= n_bins rows) and the driver walks
    the <= n_bins cumulative counts to find, for each prob's rank
    ``ceil(num*N/den)`` (integer DIV — no float ceil), the target bin and
    the residual rank within it. Pass 2 is ONE job for ALL probs: the
    per-prob (target bin, residual) table ships back as a tiny broadcast
    relation, rows join it on their bin (each row matches at most the probs
    that target its bin), and a per-prob window over values picks the
    residual-th smallest — so the data really is scanned exactly twice no
    matter how many probs are asked. The result is the exact k-th smallest
    VALUE, well-defined under duplicates.

    Clamping makes this correct for ANY (lo, hi): bin(v) is monotone
    non-decreasing in v even when out-of-range values clamp to the edge
    bins, so bins always partition the sorted order — a bad range only
    unbalances bin sizes (worst case pass 2 re-sorts one giant edge bin),
    never the answer. The driver-side state is one bounded <= n_bins-row
    collect (guarded), the same budget as a BPE vocab probe.

    At 100 TB vs alternatives: a full sort is a terabyte shuffle;
    percentile_approx is approximate; this is two scans + rank-bounded
    per-bin selections. Nulls and NaNs excluded as in
    :func:`value_histogram`.

    Contract: ``df`` must be DETERMINISTIC across the two scans — the bin
    counts from pass 1 locate the residual rank pass 2 selects, so a source
    that re-evaluates differently per job (sampling, rate limits, mutable
    tables) can leave pass 2 empty at the counted rank. Persist or
    checkpoint such sources first; the mismatch raises a named error, never
    a silent wrong quantile.
    """
    if n_bins < 1 or n_bins > 1_000_000:
        raise ValueError(f"n_bins must be in [1, 1e6], got {n_bins}")
    for num, den in probs:
        if not (0 < num <= den):
            raise ValueError(f"prob must satisfy 0 < num <= den, got {num}/{den}")
    hist = sorted(
        (r["bin"], r["n"])
        for r in value_histogram(
            df, value_col, [], lo=lo, hi=hi, n_bins=n_bins
        ).collect()
    )
    n_total = sum(n for _, n in hist)
    if n_total == 0:
        raise ValueError(f"no non-null rows in {value_col}")
    targets = []  # (num, den, target_bin, residual)
    for num, den in probs:
        rank = (num * n_total + den - 1) // den
        cum = 0
        target_bin, residual = hist[-1][0], rank  # fallback: last bin
        for b, n in hist:
            if cum + n >= rank:
                target_bin, residual = b, rank - cum
                break
            cum += n
        targets.append((num, den, target_bin, residual))
    tdf = df.sparkSession.createDataFrame(
        targets, "num long, den long, __bin long, __residual long"
    )
    v = F.col(value_col).cast("double")
    rows = (
        df.where(_finite(value_col))
        .select(v.alias("__v"), _bin_expr(value_col, lo, hi, n_bins).alias("__bin"))
        .join(F.broadcast(tdf), on="__bin")
    )
    w_sel = Window.partitionBy("num", "den").orderBy("__v")
    selected = {
        (r["num"], r["den"]): r["__v"]
        for r in rows.withColumn("__rn", F.row_number().over(w_sel))
        .where(F.col("__rn") == F.col("__residual"))
        .select("num", "den", "__v")
        .collect()
    }
    out = []
    for num, den, target_bin, residual in targets:
        if (num, den) not in selected:
            # The two passes are separate jobs over `df`; a source that
            # recomputes non-deterministically between them (e.g. a
            # re-sampled or rate-limited scan) can leave pass 2 without the
            # residual-th row pass 1 counted. Name the prob and bin instead
            # of a bare KeyError.
            raise RuntimeError(
                f"exact_quantile_two_pass: pass 2 found no row at residual "
                f"rank {residual} in bin {target_bin} for prob {num}/{den} "
                f"— the input must be deterministic across the two scans "
                f"(persist or checkpoint a non-deterministic source)"
            )
        out.append((num / den, selected[(num, den)], n_total))
    return out


def grouped_exact_quantiles(
    df: DataFrame,
    value_col: str,
    keys: "list[str]",
    probs: "list[tuple[int, int]]",
    *,
    lo: float,
    hi: float,
    n_bins: int = 1024,
) -> DataFrame:
    """EXACT per-group quantiles, fully in-plan — no global sort, no driver
    state, so key cardinality is unbounded (the keyed generalization of
    :func:`exact_quantile_two_pass`, whose driver bin-walk caps it at
    driver-memory keys x bins).

    Stage 1 builds the per-key histogram (:func:`value_histogram`) and
    derives, per (key, prob), the target bin and the residual rank WITHIN
    it using window cumulative counts and a struct-min — all relational:
    rank = ceil(num·N/den) in integer DIV, target = first bin whose
    cumulative count reaches rank, residual = rank − (count before target).
    Stage 2 joins rows back on (key, bin == target) — each row replicates
    to at most len(probs) matches — and takes the residual-th smallest by a
    per-(key, prob) window over values. The selected VALUE is the exact
    k-th smallest (well-defined under duplicates: equal values permute only
    among themselves). Per-task sort cost is bin-bounded (~N_key/n_bins
    rows), never key-group-bounded; clamped binning keeps ANY declared
    (lo, hi) correct, exactly as in the two-pass operator.

    NULL group keys are EXCLUDED up front (both stages): stage 2's equi-join
    could never match a NULL key anyway (non-null-safe equality), so without
    the explicit filter the NULL group would be counted in stage 1 and then
    silently produce no output row — stated rule over silent asymmetry, the
    heavy_hitters convention. Registered oracles filter the same way.

    Returns ``keys + [prob, value, n_total]``.
    """
    for num, den in probs:
        if not (0 < num <= den):
            raise ValueError(f"prob must satisfy 0 < num <= den, got {num}/{den}")
    for k in keys:
        df = df.where(F.col(k).isNotNull())
    hist = value_histogram(df, value_col, keys, lo=lo, hi=hi, n_bins=n_bins)
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    cum = hist.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "n_total", F.sum("n").over(w_all)
    )
    pr = F.explode(
        F.array(*[
            F.struct(
                F.lit(num).cast("long").alias("num"),
                F.lit(den).cast("long").alias("den"),
            )
            for num, den in probs
        ])
    ).alias("pr")
    exploded = cum.select(*keys, "bin", "n", "cum", "n_total", pr).select(
        *keys, "bin", "n", "cum", "n_total",
        F.col("pr.num").alias("num"), F.col("pr.den").alias("den"),
    )
    rank = F.expr("(num * n_total + den - 1) DIV den")
    # struct-min picks the FIRST qualifying bin and carries (cum - n) along,
    # so residual = rank - before needs no second pass over the histogram
    targets = (
        exploded.withColumn("__rank", rank)
        .where(F.col("cum") >= F.col("__rank"))
        .groupBy(*keys, "num", "den")
        .agg(
            F.min(
                F.struct(
                    F.col("bin").alias("b"),
                    (F.col("cum") - F.col("n")).alias("before"),
                )
            ).alias("_t"),
            F.max("n_total").alias("n_total"),
            F.max("__rank").alias("__rank"),
        )
        .select(
            *keys, "num", "den", "n_total",
            F.col("_t.b").alias("__bin"),
            (F.col("__rank") - F.col("_t.before")).alias("__residual"),
        )
    )
    rows = df.where(_finite(value_col)).select(
        *keys,
        F.col(value_col).cast("double").alias("__v"),
        _bin_expr(value_col, lo, hi, n_bins).alias("__bin"),
    )
    w_sel = Window.partitionBy(*keys, "num", "den").orderBy("__v")
    return (
        rows.join(targets, on=[*keys, "__bin"])
        .withColumn("__rn", F.row_number().over(w_sel))
        .where(F.col("__rn") == F.col("__residual"))
        .select(
            *keys,
            (F.col("num").cast("double") / F.col("den").cast("double")).alias("prob"),
            F.col("__v").alias("value"),
            "n_total",
        )
    )
