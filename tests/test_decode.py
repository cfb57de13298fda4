"""The folds' input decode, Spark-free.

``_as_list`` turns each pandas column that PySpark's Arrow -> pandas
conversion hands a fold into a python list with None for nulls. A nullable
long column that holds a null arrives as float64, a nullable boolean as
object. The dtype table pins the numpy decode against the per-element
decode it replaced, element types included. The property test renders
generated streams as Arrow batches cut at random, converts each through
PySpark's own serializer, decodes it and folds the batches in a chain, and
requires the naive book's snapshots.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer

from naive_book import top_n_arrays
from polars_order_book_spark.operators.order_book import (
    OrderBookError,
    _as_list,
    _check_exact,
    _fold_arrays,
)
from test_property_differential import (
    modify_stream,
    mutation_stream,
    update_stream,
)

SER = ArrowStreamPandasUDFSerializer("UTC", False, True)
BIG = 2**53 - 1


def _per_element(s: pd.Series) -> list:
    """The per-element decode ``_as_list`` replaced: the reference."""
    if s.dtype == object:
        return [None if v is None or v is pd.NA else v for v in s.tolist()]
    arr = s.to_numpy()
    if arr.dtype.kind == "f":
        _check_exact(s)
        return [None if np.isnan(v) else int(v) for v in arr.tolist()]
    isna = s.isna()
    if isna.any():
        return [None if m else v for v, m in zip(s.tolist(), isna.tolist())]
    return s.tolist()


def _spark_series(values, type_) -> pd.Series:
    return SER.arrow_to_pandas(pa.array(values, type_), 0)


DTYPE_TABLE = {
    "int64": (_spark_series([3, -7, 0, BIG, -BIG], pa.int64()), "int64"),
    "int64_null": (_spark_series([None, -5, BIG, -BIG, 0, 12, None], pa.int64()), "float64"),
    "int32_null": (_spark_series([1, None, -2], pa.int32()), "float64"),
    "bool": (_spark_series([True, False, True], pa.bool_()), "bool"),
    "bool_null": (_spark_series([None, True, False, None], pa.bool_()), "object"),
    "string_null": (_spark_series(["a", None, "b"], pa.string()), "object"),
    "Int64_NA": (pd.Series([pd.NA, 4, -BIG, pd.NA], dtype="Int64"), "Int64"),
    "all_null_long": (_spark_series([None, None, None], pa.int64()), "float64"),
    "all_null_bool": (_spark_series([None, None], pa.bool_()), "object"),
    "empty_long": (_spark_series([], pa.int64()), "int64"),
    "empty_float": (pd.Series([], dtype="float64"), "float64"),
    "empty_bool": (_spark_series([], pa.bool_()), "bool"),
    "null_first": (_spark_series([None, 1, 2], pa.int64()), "float64"),
    "null_last": (_spark_series([1, 2, None], pa.int64()), "float64"),
}


@pytest.mark.parametrize("case", sorted(DTYPE_TABLE))
def test_as_list_equals_per_element_decode(case):
    s, dtype = DTYPE_TABLE[case]
    assert str(s.dtype) == dtype  # the conversion still hands over this dtype
    got, want = _as_list(s), _per_element(s)
    assert got == want
    assert [type(v) for v in got] == [type(v) for v in want]
    assert all(type(v) in (int, bool, str, type(None)) for v in got)


@pytest.mark.parametrize("v", [2**53, -(2**53), 2**62])
def test_as_list_raises_on_rounded_float(v):
    s = _spark_series([v, None], pa.int64()).rename("price")
    assert s.dtype == "float64"
    with pytest.raises(OrderBookError, match="2\\*\\*53"):
        _as_list(s)


COLS = ["seq", "is_bid", "price", "qty", "prev_price", "prev_qty"]
STREAMS = {
    "updates": update_stream(),
    "mutations": mutation_stream(),
    "modify": modify_stream(),
}


def _arrow_batches(rows, cols, cuts):
    """``rows`` as one Arrow table, cut at ``cuts`` into batches that go
    through an IPC stream, as the JVM sends them to a Python worker."""
    types = [pa.int64(), pa.bool_()] + [pa.int64()] * 4
    table = pa.table({c: pa.array([r[i] for r in rows], t)
                      for i, (c, t) in enumerate(zip(cols, types))})
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        for a, b in zip(cuts, cuts[1:]):
            w.write_table(table.slice(a, b - a))
    return list(pa.ipc.open_stream(sink.getvalue()))


@settings(max_examples=40, deadline=None, derandomize=True)
@given(data=st.data(), variant=st.sampled_from(sorted(STREAMS)),
       n=st.sampled_from([1, 3, 20]))
def test_property_decoded_batches_fold_like_naive_book(data, variant, n):
    rows = data.draw(STREAMS[variant])
    cols = COLS if variant == "modify" else COLS[:4]
    inner = data.draw(st.lists(st.integers(0, len(rows)), max_size=6))
    cuts = [0, *sorted(inner), len(rows)]
    bids = asks = None
    outs, masks = [], []
    for batch in _arrow_batches(rows, cols, cuts):
        if not batch.num_rows:
            continue
        pdf = pd.DataFrame({c: SER.arrow_to_pandas(batch.column(i), i)
                            for i, c in enumerate(cols)})
        dec = [_as_list(pdf[c]) for c in cols[1:]] + [None] * (6 - len(cols))
        out, mask, bids, asks = _fold_arrays(
            variant, n, pdf["seq"].to_numpy(), *dec, bids=bids, asks=asks)
        outs.append(out)
        masks.append(mask)
    out, mask = np.concatenate(outs, axis=1), np.concatenate(masks, axis=1)
    out_w, mask_w = top_n_arrays(rows, variant, n)
    np.testing.assert_array_equal(mask, mask_w)
    np.testing.assert_array_equal(out[~mask], out_w[~mask_w])
