"""Correctness: DuckDB reference results and order-insensitive row hashes.

DuckDB runs each distinct request over the engine's own pruned file list,
the way the reference rewrites a table reference:
``read_parquet([...], union_by_name=true)``. Every edge's response is
decoded to canonical rows with the reference's JSON rules undone
(int64 values arrive as decimal strings, timestamps as RFC3339Nano), so
json, ndjson, Flight and DuckDB results compare as one sorted row list.
Floats compare with a relative tolerance: two engines summing in a
different order differ in the last bits, and rounding to a fixed number
of digits would still split values that sit on a rounding boundary.
"""

from __future__ import annotations

import json
import math
import re
from datetime import datetime, timezone

import pyarrow as pa

_RFC3339 = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,9}))?(Z|[+-]\d{2}:\d{2})$"
)


def rfc3339_to_ns(s: str) -> int:
    """Parse Go's RFC3339Nano layout (trailing fraction zeros dropped)."""
    m = _RFC3339.match(s)
    if not m:
        raise ValueError(f"not RFC3339: {s!r}")
    y, mo, d, h, mi, sec, frac, off = m.groups()
    dt = datetime(int(y), int(mo), int(d), int(h), int(mi), int(sec), tzinfo=timezone.utc)
    ns = int(dt.timestamp()) * 1_000_000_000 + int((frac or "").ljust(9, "0") or 0)
    if off != "Z":
        sign = 1 if off[0] == "+" else -1
        ns -= sign * (int(off[1:3]) * 3600 + int(off[4:6]) * 60) * 1_000_000_000
    return ns


def _canon(v, kind: str):
    """One value in canonical form. ``kind`` is the reference type class
    (int / float / str) taken from DuckDB's result schema."""
    if v is None:
        return None
    if kind == "int":
        if isinstance(v, str):
            # int64-as-string rule; a timestamp-typed column arrives as
            # RFC3339Nano text instead
            try:
                return int(v)
            except ValueError:
                return rfc3339_to_ns(v)
        if isinstance(v, datetime):
            return int(v.timestamp()) * 1_000_000_000 + v.microsecond * 1000
        return int(v)
    if kind == "float":
        return float(v)
    return str(v)


def _kind(t: pa.DataType) -> str:
    if pa.types.is_integer(t) or pa.types.is_timestamp(t) or pa.types.is_decimal(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    return "str"


def kinds_of(schema: pa.Schema) -> dict[str, str]:
    return {f.name: _kind(f.type) for f in schema}


def canonical(rows: list[dict], kinds: dict[str, str]) -> list[tuple]:
    """Rows as tuples of canonical values (columns by name), sorted, so
    that row order does not matter."""
    cols = sorted(kinds)
    out = []
    for r in rows:
        if set(r) != set(cols):
            raise ValueError(f"columns {sorted(r)} != expected {cols}")
        out.append(tuple(_canon(r[c], kinds[c]) for c in cols))
    out.sort(key=lambda row: tuple((v is None, 0 if v is None else v) for v in row))
    return out


def _same_value(u, v) -> bool:
    if isinstance(u, float) and isinstance(v, float):
        return math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-12)
    return u == v


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    return len(a) == len(b) and all(
        all(_same_value(u, v) for u, v in zip(x, y)) for x, y in zip(a, b)
    )


def first_difference(a: list[tuple], b: list[tuple]) -> str:
    """The first differing row pair, for a failure message."""
    for i, (x, y) in enumerate(zip(a, b)):
        if not all(_same_value(u, v) for u, v in zip(x, y)):
            return f"row {i}: {x} != {y}"
    return f"{len(a)} rows != {len(b)} rows"


def arrow_rows(table: pa.Table) -> list[dict]:
    """Arrow table → python rows with timestamps as int ns and decimals
    as ints (DuckDB sums of BIGINT are HUGEINT)."""
    cols = {}
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("ns", tz=col.type.tz)).cast(pa.int64())
        vals = col.to_pylist()
        if pa.types.is_decimal(col.type):
            vals = [None if v is None else int(v) if v == v.to_integral() else float(v)
                    for v in vals]
        cols[name] = vals
    n = table.num_rows
    return [{k: cols[k][i] for k in cols} for i in range(n)]


def json_rows(body: bytes) -> list[dict]:
    return json.loads(body)["results"]


def ndjson_rows(body: bytes) -> list[dict]:
    return [json.loads(line) for line in body.splitlines() if line.strip()]


class DuckRef:
    """DuckDB over the engine's pruned file list, one connection, timed."""

    def __init__(self, threads: int, temp_dir: str):
        import duckdb

        self.con = duckdb.connect(
            ":memory:", config={"threads": threads, "temp_directory": temp_dir}
        )

    def run(self, sql: str, files: list[str]) -> pa.Table:
        # hive_partitioning=false: DuckDB would otherwise derive date/hour
        # columns from the folder names and add them to SELECT *; the
        # engine reads an explicit file list and returns the stored columns
        listing = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        sql = sql.replace(
            "{table}",
            f"read_parquet([{listing}], union_by_name=true, hive_partitioning=false)",
        )
        return self.con.execute(sql).arrow()

    def close(self) -> None:
        self.con.close()

