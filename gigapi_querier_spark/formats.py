"""Result encoders — JSON / NDJSON with the reference's two formatting
rules (querier/formatJson.go:41-67):

- int64 values render as **strings** (BigInt-safe for JS clients);
- timestamps render as RFC3339Nano.

Decimals render as their exact text in a string, by the int64 rule. Plus
the count-null→0 rule applied by the engine (queryClient.go:911-914).
JSON shape: {"results": [...]} (formatJson.go:10-19); NDJSON (one object
per line, formatJson.go:21-38) is streamed by the HTTP handler.

Both edges encode with ``encode_rows``, column by column: a column of
only ints, only strings or only floats is encoded by one rule with no
per-value dispatch, any other column value by value with
``transform_value``. The text equals ``json.dumps`` of the row dict of
transformed values, byte for byte.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterable, Sequence
from datetime import date, datetime, timezone
from decimal import Decimal
from json.encoder import encode_basestring_ascii

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
    if isinstance(v, Decimal):
        return format(v, "f")  # exact, BigInt-safe like int64
    return v


def transform_rows(rows: Iterable[dict]) -> list[dict]:
    return [{k: transform_value(v) for k, v in r.items()} for r in rows]


def json_format(rows: Sequence[dict]) -> str:
    """``{"results": [...]}`` of row dicts that share one key order."""
    if not rows:
        return '{"results": []}'
    names = list(rows[0])
    cols = [[r[k] for r in rows] for k in names]
    return '{"results": [' + ", ".join(encode_rows(names, cols, len(rows))) + "]}"


def encode_rows(names: Sequence[str], cols: Sequence[Sequence], n_rows: int) -> list[str]:
    """One JSON object text per row of the columns ``cols`` (named
    ``names``, ``n_rows`` values each): the text of
    ``json.dumps({k: transform_value(v) for k, v in zip(names, row)})``.
    A name given twice keeps its first position and takes its last
    column, as that dict does.

    Each row is one ``%`` of a template made per call, whose slot for a
    column of ints or finite floats without nulls formats the values
    themselves."""
    last = {}
    for i, name in enumerate(names):
        last[name] = i
    if not last:
        return ["{}"] * n_rows
    slots, vals = [], []
    for k, i in last.items():
        slot, col = _encode_column(cols[i])
        slots.append(encode_basestring_ascii(k).replace("%", "%%") + ": " + slot)
        vals.append(col)
    template = "{" + ", ".join(slots) + "}"
    return [template % row for row in zip(*vals)]


#: ``json.dumps`` spellings of the floats ``repr`` spells otherwise
_FLOAT_WORDS = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def _encode_column(col: Sequence) -> tuple[str, Sequence]:
    """A ``%`` slot and the values to fill it with, giving the JSON text
    of ``transform_value(v)`` for each value ``v`` of ``col``."""
    kinds = set(map(type, col))
    nulls = type(None) in kinds
    kinds.discard(type(None))
    if kinds <= {int}:  # int64 → decimal string (formatJson.go:53-54)
        if not nulls:
            return '"%d"', col
        return "%s", ["null" if v is None else '"%d"' % v for v in col]
    if kinds == {str}:
        if not nulls:
            return "%s", list(map(encode_basestring_ascii, col))
        return "%s", ["null" if v is None else encode_basestring_ascii(v) for v in col]
    if kinds == {float}:
        if not nulls and all(map(math.isfinite, col)):
            return "%r", col
        reprs = ("null" if v is None else float.__repr__(v) for v in col)
        return "%s", [_FLOAT_WORDS.get(r, r) for r in reprs]
    return "%s", [json.dumps(transform_value(v)) for v in col]


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
