"""Result encoders — JSON / NDJSON with the reference's two formatting
rules (querier/formatJson.go:41-67):

- int64 values render as **strings** (BigInt-safe for JS clients);
- timestamps render as RFC3339Nano.

Plus the count-null→0 rule applied by the engine (queryClient.go:911-914).
JSON shape: {"results": [...]} (formatJson.go:10-19); NDJSON (one object
per line, formatJson.go:21-38) is streamed by the HTTP handler, which
encodes each row with ``transform_value``.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from datetime import date, datetime, timezone

import pyarrow as pa
from pyspark.sql import Row


def _rfc3339nano(dt: datetime) -> str:
    """RFC3339 with nanosecond-capable fractional part (Go's RFC3339Nano
    drops trailing zeros; Python datetimes carry µs)."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    base = dt.strftime("%Y-%m-%dT%H:%M:%S")
    frac = f".{dt.microsecond:06d}".rstrip("0").rstrip(".") if dt.microsecond else ""
    off = dt.strftime("%z")
    off = "Z" if off in ("+0000", "") else f"{off[:3]}:{off[3:]}"
    return f"{base}{frac}{off}"


def transform_value(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return str(v)  # int64 → decimal string (formatJson.go:53-54)
    if isinstance(v, datetime):
        return _rfc3339nano(v)  # formatJson.go:56-57
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return {k: transform_value(x) for k, x in v.items()}
    if isinstance(v, Row):  # a struct on the Row path is an object
        return {k: transform_value(x) for k, x in zip(v.__fields__, v)}
    if isinstance(v, (list, tuple)):
        return [transform_value(x) for x in v]
    return v


def transform_rows(rows: Iterable[dict]) -> list[dict]:
    return [{k: transform_value(v) for k, v in r.items()} for r in rows]


def json_format(rows: Iterable[dict]) -> str:
    return json.dumps({"results": transform_rows(rows)})


def arrow_rows(table: pa.Table) -> list[dict]:
    """Row dicts from an Arrow table, built column-wise: one Python list
    per column. Map values, nested ones included, become dicts (pyarrow
    gives them as lists of pairs), so the rows equal what
    ``Row.asDict(recursive=True)`` gives."""
    cols = []
    for field, col in zip(table.schema, table.columns):
        vals = _pylist(col)
        if _has_map(field.type):
            vals = [_maps_to_dicts(v, field.type) for v in vals]
        cols.append(vals)
    names = table.column_names
    return [dict(zip(names, r)) for r in zip(*cols)]


def _pylist(col: pa.ChunkedArray) -> list:
    """``col.to_pylist()``, through NumPy (an order of magnitude faster)
    where that gives the same values: strings (nulls become None), and
    numbers and bools without nulls (NumPy would turn a null number into
    NaN)."""
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or (
        col.null_count == 0
        and (pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_boolean(t))
    ):
        return col.to_numpy().tolist()
    return col.to_pylist()


def _has_map(t: pa.DataType) -> bool:
    return pa.types.is_map(t) or any(_has_map(t.field(i).type) for i in range(t.num_fields))


def _maps_to_dicts(v, t: pa.DataType):
    if v is None:
        return None
    if pa.types.is_map(t):
        return {k: _maps_to_dicts(x, t.item_type) for k, x in v}
    if pa.types.is_struct(t):
        return {f.name: _maps_to_dicts(v[f.name], f.type) for f in t}
    if t.num_fields:  # list, large_list, fixed_size_list
        return [_maps_to_dicts(x, t.value_type) for x in v]
    return v
