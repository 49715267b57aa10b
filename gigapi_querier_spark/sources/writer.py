"""Reference-layout table writer — the producer side of the data model.

The reference querier is read-only; its companion writer lays data out as

    {root}/{db}/{table}/data/date=YYYY-MM-DD/hour=HH/*.parquet
    + per-folder metadata.json  ({min_time, max_time, files:[...]} —
      querier/queryClient.go:340-356; each file entry also carries a
      ``time_null_count``, which the reference does not write)

This module writes that layout from any DataFrame with a time column
(int64 ns or a timestamp; stored as int64 ns), so the engine's catalog
pruning (and the reference itself) can query the result.

Scale: the write is a standard ``partitionBy("date", "hour")`` parquet
write — fully distributed, one task per output partition split. Only the
metadata.json generation is driver-side, and it reads parquet *footers*
(not data) for min/max and null-count stats. An append regenerates the
metadata.json of the folders it wrote, not of the whole table.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gigapi_querier_spark.plans.sqlpass import NS_PER_S
from gigapi_querier_spark.session import time_ns
from gigapi_querier_spark.sources.catalog import is_staging_dir


def write_table(
    df: DataFrame,
    root: str,
    db: str,
    table: str,
    time_col: str = "time",
    mode: str = "append",
) -> str:
    """Write ``df`` as a reference-layout table; returns the table path.

    ``time_col`` (int64 epoch ns or a timestamp) is stored as int64 ns,
    and the hive ``date``/``hour`` partition columns derive from it.
    """
    base = os.path.join(root, db, table, "data")
    df = df.withColumn(time_col, time_ns(df, time_col))
    # date/hour derive from epoch ARITHMETIC, not date_format/hour (those
    # follow spark.sql.session.timeZone — under a non-UTC session the
    # layout would disagree with Catalog's UTC interpretation of the
    # directory names and partition pruning would skip live files).
    # from_unixtime is also tz-dependent; day/hour index math is not.
    secs = F.expr(f"{time_col} DIV {NS_PER_S}")
    day = F.date_add(
        F.lit("1970-01-01").cast("date"), F.floor(secs / 86400).cast("int")
    )
    hour = F.floor(F.pmod(secs, 86400) / 3600)
    before = _parquet_listing(base)
    (
        df.withColumn("date", F.date_format(day, "yyyy-MM-dd"))
        .withColumn("hour", F.lpad(hour.cast("int").cast("string"), 2, "0"))
        .write.partitionBy("date", "hour")
        .mode(mode)
        .parquet(base)
    )
    after = _parquet_listing(base)
    write_metadata(
        base,
        time_col=time_col,
        folders=[d for d, names in after.items() if before.get(d) != names],
    )
    return os.path.join(root, db, table)


def _parquet_listing(base: str) -> dict[str, frozenset[str]]:
    """Each folder under ``base`` holding parquet files (staging dirs
    skipped) → the names of those files."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames[:] = [d for d in dirnames if not is_staging_dir(d)]
        names = frozenset(f for f in filenames if f.endswith(".parquet"))
        if names:
            out[dirpath] = names
    return out


def write_metadata(
    base: str, time_col: str = "time", folders: list[str] | None = None
) -> int:
    """Generate per-folder metadata.json from parquet footer statistics
    (no data reads), times in epoch ns whatever the parquet unit. Rebuilds
    every folder under ``base``, or only ``folders`` when given (an append
    passes the folders it wrote). Returns the number of folders written.
    Each file is renamed into place from a hidden unique name, so a
    concurrent reader never sees a partial one."""
    import pyarrow.parquet as pq

    n = 0
    for dirpath in _parquet_listing(base) if folders is None else folders:
        parquet_files = sorted(f for f in os.listdir(dirpath) if f.endswith(".parquet"))
        if not parquet_files:
            continue
        entries = []
        for name in parquet_files:
            fpath = os.path.join(dirpath, name)
            meta = pq.ParquetFile(fpath).metadata
            min_t = max_t = nulls = None
            time_idx = None
            schema = meta.schema
            for i in range(len(schema)):
                if schema.column(i).name == time_col:
                    time_idx = i
                    break
            if time_idx is not None:
                unit = getattr(schema.to_arrow_schema().field(time_col).type, "unit", "ns")
                scale = {"s": NS_PER_S, "ms": 1_000_000, "us": 1_000, "ns": 1}[unit]
                nulls = 0  # None once a row group lacks a null count
                for rg in range(meta.num_row_groups):
                    stats = meta.row_group(rg).column(time_idx).statistics
                    if stats is None or not stats.has_null_count:
                        nulls = None
                    elif nulls is not None:
                        nulls += stats.null_count
                    if stats is None or not stats.has_min_max:
                        continue
                    lo, hi = stats.min_raw * scale, stats.max_raw * scale
                    min_t = lo if min_t is None else min(min_t, lo)
                    max_t = hi if max_t is None else max(max_t, hi)
            entries.append(
                {
                    "path": name,
                    "size_bytes": os.path.getsize(fpath),
                    "row_count": meta.num_rows,
                    "min_time": min_t,
                    "max_time": max_t,
                    "time_null_count": nulls,
                }
            )
        folder_meta = {
            "type": "parquet",
            "parquet_size_bytes": sum(e["size_bytes"] for e in entries),
            "row_count": sum(e["row_count"] for e in entries),
            "min_time": min(
                (e["min_time"] for e in entries if e["min_time"] is not None),
                default=None,
            ),
            "max_time": max(
                (e["max_time"] for e in entries if e["max_time"] is not None),
                default=None,
            ),
            "files": entries,
        }
        tmp = os.path.join(dirpath, f".metadata.{uuid.uuid4().hex}.json")
        with open(tmp, "x") as f:
            json.dump(folder_meta, f)
        os.replace(tmp, os.path.join(dirpath, "metadata.json"))
        n += 1
    return n

