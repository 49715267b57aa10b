"""Encoding rules (reference querier/formatJson.go + flightsql.go typing)."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pyarrow as pa

from gigapi_querier_spark.arrow_out import normalize_arrow
from gigapi_querier_spark.formats import arrow_rows, json_format, transform_value


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


def test_json_envelope():
    out = json.loads(json_format([{"a": 1, "b": "x"}]))
    assert out == {"results": [{"a": "1", "b": "x"}]}


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
