"""Encoding rules (reference querier/formatJson.go + flightsql.go typing)."""

from __future__ import annotations

import json
import math
from datetime import datetime, timedelta, timezone
from decimal import Decimal

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from gigapi_querier_spark.arrow_out import normalize_arrow
from gigapi_querier_spark.formats import (
    arrow_rows,
    encode_rows,
    json_format,
    transform_rows,
    transform_value,
)


def test_int64_renders_as_string():
    assert transform_value(9007199254740993) == "9007199254740993"
    assert transform_value(0) == "0"


def test_bool_stays_bool():
    assert transform_value(True) is True


def test_float_passthrough():
    assert transform_value(1.5) == 1.5


def test_timestamp_rfc3339nano():
    dt = datetime(2024, 1, 2, 3, 4, 5, 123456, tzinfo=timezone.utc)
    assert transform_value(dt) == "2024-01-02T03:04:05.123456Z"
    dt = datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    assert transform_value(dt) == "2024-01-02T03:04:05Z"
    # naive timestamps treated as UTC
    assert transform_value(datetime(2024, 1, 2)) == "2024-01-02T00:00:00Z"


def test_decimal_renders_as_exact_string():
    # Spark types 1.5 as DECIMAL(2,1); like int64, a decimal is a string
    assert transform_value(Decimal("1.50")) == "1.50"
    assert transform_value(Decimal("12345678901234567890")) == "12345678901234567890"
    assert transform_value(Decimal("1E+2")) == "100"


def test_json_envelope():
    out = json.loads(json_format([{"a": 1, "b": "x"}]))
    assert out == {"results": [{"a": "1", "b": "x"}]}
    assert json_format([]) == '{"results": []}'
    assert json_format([{}, {}]) == '{"results": [{}, {}]}'


#: text with non-ASCII and control characters, quotes, backslashes and ``%``
_text = st.text(st.one_of(st.characters(), st.sampled_from('"%\\\n\x00\x7fé☃')), max_size=8)
_scalars = {
    "int": st.one_of(
        st.integers(), st.integers(min_value=2**53), st.integers(max_value=-1)
    ),
    "float": st.one_of(
        st.floats(), st.sampled_from([-0.0, 1e16, math.nan, math.inf, -math.inf])
    ),
    "str": _text,
    "bool": st.booleans(),
    "datetime": st.datetimes(
        timezones=st.sampled_from(
            [None, timezone.utc, timezone(timedelta(hours=-5)), timezone(timedelta(hours=5, minutes=30))]
        )
    ),
    "date": st.dates(),
    "bytes": st.binary(max_size=8),
    "decimal": st.decimals(allow_nan=False, allow_infinity=False),
}
_nested = st.recursive(
    st.one_of(st.none(), *_scalars.values()),
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),
        st.dictionaries(_text, inner, max_size=3),
        st.dictionaries(_text, inner, min_size=1, max_size=3).map(lambda d: Row(**d)),
    ),
    max_leaves=6,
)
#: a column's values: one scalar kind (the encoder's fast paths) or anything
_column_values = st.sampled_from([*_scalars.values(), _nested])


@given(st.data())
@settings(max_examples=300, deadline=None)
def test_encode_rows_is_json_dumps_of_the_row_dict(data):
    """Byte for byte the text ``json.dumps`` gives for the row dict of
    transformed values, duplicate names included (first position, last
    value), and ``json_format`` is the same texts in the envelope."""
    names = data.draw(st.lists(_text, min_size=1, max_size=5), label="names")
    n = data.draw(st.integers(0, 5), label="rows")
    cols = [
        data.draw(st.lists(st.none() | data.draw(_column_values), min_size=n, max_size=n))
        for _ in names
    ]
    rows = list(zip(*cols))
    want = [json.dumps({k: transform_value(v) for k, v in zip(names, r)}) for r in rows]
    assert encode_rows(names, cols, n) == want
    dicts = [dict(zip(names, r)) for r in rows]
    if len(set(names)) == len(names):
        assert json_format(dicts) == json.dumps({"results": transform_rows(dicts)})


def test_arrow_column_order_time_first_rest_alpha():
    t = pa.table(
        {
            "zeta": [1],
            "time": [1704067200000000000],
            "alpha": ["x"],
        }
    )
    out = normalize_arrow(t)
    assert out.column_names == ["time", "alpha", "zeta"]
    assert out.schema.field("time").type == pa.timestamp("ns", tz="UTC")


def test_arrow_null_column_defaults_to_string():
    t = pa.table({"n": pa.array([None, None], pa.null()), "a": [1, 2]})
    out = normalize_arrow(t)
    assert out.schema.field("n").type == pa.string()


def test_arrow_us_timestamp_upcast_to_ns():
    t = pa.table({"time": pa.array([1704067200000000], pa.timestamp("us"))})
    out = normalize_arrow(t)
    assert out.schema.field("time").type == pa.timestamp("ns", tz="UTC")
    assert out.column("time")[0].value == 1704067200000000000


def test_arrow_string_timestamp_layouts():
    # the reference accepts RFC3339[Nano] and space/T forms
    # (flightsql.go:409-425); unparseable → null
    t = pa.table(
        {
            "time_str": [
                "2024-01-02T03:04:05Z",
                "2024-01-02 03:04:05",
                "2024-01-02T03:04:05.123456789",
                "not a timestamp",
                None,
            ]
        }
    )
    out = normalize_arrow(t)
    col = out.column("time_str")
    assert out.schema.field("time_str").type == pa.timestamp("ns", tz="UTC")
    base = 1704164645_000000000
    assert col[0].value == base
    assert col[1].value == base
    assert col[2].value == base + 123456789
    assert col[3].as_py() is None and col[4].as_py() is None


def test_arrow_rows_match_row_dicts():
    # the json edge's column-wise rows: NumPy-converted columns keep
    # to_pylist's values and types, and maps (nested too) become dicts
    m = pa.map_(pa.string(), pa.int64())
    t = pa.table(
        {
            "i": pa.array([1, 2], pa.int32()),
            "n": pa.array([None, 3], pa.int64()),
            "f": pa.array([0.5, None]),
            "b": pa.array([True, False]),
            "s": pa.array(["x", None]),
            "m": pa.array([[("k", 1)], None], m),
            "lm": pa.array([[[("a", 2)]], []], pa.list_(m)),
            "st": pa.array([{"c": [("q", 3)]}, {"c": None}], pa.struct([("c", m)])),
        }
    )
    rows = arrow_rows(t)
    assert rows == [
        {"i": 1, "n": None, "f": 0.5, "b": True, "s": "x",
         "m": {"k": 1}, "lm": [{"a": 2}], "st": {"c": {"q": 3}}},
        {"i": 2, "n": 3, "f": None, "b": False, "s": None,
         "m": None, "lm": [], "st": {"c": None}},
    ]
    assert type(rows[0]["i"]) is int and type(rows[0]["b"]) is bool
