"""``compat._py_values``: the one Arrow -> Python conversion of the custom-rule
UDF must equal ``pa.Array.to_pylist()`` with maps as dicts, whatever the
nesting, the nulls and the slice offset of the batch."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pyarrow as pa
import pytest

from okay_spark.compat import _py_values


def _pylist(arr: pa.Array) -> list:
    def conv(v, t):
        if v is None:
            return None
        if pa.types.is_map(t):
            return {k: conv(x, t.item_type) for k, x in v}
        if pa.types.is_struct(t):
            return {f.name: conv(v[f.name], f.type) for f in t}
        if pa.types.is_list(t):
            return [conv(x, t.value_type) for x in v]
        return v

    return [conv(v, arr.type) for v in arr.to_pylist()]


def _same(a, b) -> bool:
    """Equality that also checks scalar types (1 vs 1.0) and NaN == NaN."""
    if isinstance(a, dict) and isinstance(b, dict):
        return list(a) == list(b) and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return type(a) is type(b) and a == b


SPAN = pa.struct([("kind", pa.string()), ("offset", pa.int32()), ("score", pa.float64())])
NESTED = pa.array(
    [
        {"spans": [{"kind": "t", "offset": 1, "score": 0.5}, None], "tags": {"a": [1, None]}},
        None,
        {"spans": None, "tags": None},
        {"spans": [], "tags": {}},
        {"spans": [{"kind": None, "offset": None, "score": float("nan")}], "tags": {"b": None}},
        {"spans": [{"kind": "m", "offset": 7, "score": None}], "tags": {"c": [], "d": [3]}},
    ],
    type=pa.struct([("spans", pa.list_(SPAN)), ("tags", pa.map_(pa.string(), pa.list_(pa.int64())))]),
)
MAP = pa.array(
    [[("a", {"p": 1}), ("b", None)], [("c", {"p": None})], None, [("d", {"p": 4})]],
    type=pa.map_(pa.string(), pa.struct([("p", pa.int64())])),
)
FLAT = {
    "int64": pa.array([1, None, 3], pa.int64()),
    "int8": pa.array([None, -2, 0], pa.int8()),
    "bool": pa.array([True, None, False]),
    "double": pa.array([1.5, None, float("nan")]),
    "string": pa.array(["x", None, ""]),
    "date": pa.array([datetime.date(2020, 1, 2), None, datetime.date(1969, 12, 31)]),
    "decimal": pa.array([Decimal("1.50"), None, Decimal("-3.00")], pa.decimal128(10, 2)),
    "binary": pa.array([b"ab", None, b""]),
    "naive_ts": pa.array([datetime.datetime(2020, 1, 2, 3, 4, 5), None, datetime.datetime(1970, 1, 1)]),
    "null": pa.nulls(3),
}


@pytest.mark.parametrize("arr", [NESTED, MAP, *FLAT.values()], ids=["nested", "map", *FLAT])
@pytest.mark.parametrize("window", [None, (1, None), (2, 2), (0, 0)])
def test_py_values_matches_to_pylist(arr, window):
    if window is not None:
        arr = arr.slice(*window) if window[1] is not None else arr.slice(window[0])
    got, want = _py_values(arr), _pylist(arr)
    assert _same(got, want), (got, want)


def test_sliced_map_reads_children_at_absolute_offsets():
    """``.keys``/``.items`` of a sliced MapArray are the unsliced children:
    ``slice(1, 2)`` of a 3-row map has offsets ``[1, 3, 4]`` and all 4 keys."""
    m = pa.array([[("a", 1)], [("b", 2), ("c", 3)], [("d", 4)]], pa.map_(pa.string(), pa.int64()))
    part = m.slice(1, 2)
    assert part.offsets.to_pylist() == [1, 3, 4] and len(part.keys) == 4
    assert _py_values(part) == [{"b": 2, "c": 3}, {"d": 4}]


def test_nulls_are_none_and_nan_stays_nan():
    ints = _py_values(pa.array([7, None], pa.int64()))
    assert ints == [7, None] and type(ints[0]) is int
    doubles = _py_values(pa.array([float("nan"), None, 2.0]))
    assert math.isnan(doubles[0]) and doubles[1:] == [None, 2.0]
    nested = _py_values(pa.array([[{"x": None, "y": float("nan")}]]))
    assert nested[0][0]["x"] is None and math.isnan(nested[0][0]["y"])


def test_tz_timestamps_become_naive_local_time():
    """Spark ships timestamps tagged with the session time zone; the callable
    sees the naive local time ``Row.asDict()`` gives."""
    ts = pa.array([0, None], pa.timestamp("us", tz="America/New_York"))
    assert _py_values(ts) == [datetime.datetime(1969, 12, 31, 19, 0), None]
