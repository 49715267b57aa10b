"""Time-bucket rollup materialization — the hypertable continuous-
aggregate pattern over the engine's layout.

``materialize_rollup`` downsamples a raw table into a coarser-grained
aggregate table written in the SAME reference layout (date=/hour= dirs +
metadata.json), so the rollup is immediately queryable through the
engine's pruning catalog like any other table — dashboards hit the small
rollup, the raw table stays for drill-down.

Scale: the rollup is one groupBy over (bucket, keys) — partial
aggregation collapses rows map-side, the shuffle carries one row per
(bucket, key); incremental refresh re-rolls only the time window you
pass (buckets are disjoint, so overwriting a window is exact).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gigapi_querier_spark.session import time_ns
from gigapi_querier_spark.sources.writer import write_table


def rollup_frame(
    df: DataFrame,
    bucket_ns: int,
    keys: Sequence[str],
    aggs: dict[str, Column],
    time_col: str = "time",
) -> DataFrame:
    """Aggregate ``df`` to ``bucket_ns``-wide time buckets; the bucket
    start replaces the time column (still int64 ns — engine time model)."""
    bucket = (F.expr(f"{time_col} DIV {int(bucket_ns)}") * int(bucket_ns)).alias(
        time_col
    )
    return df.groupBy(bucket, *[F.col(k) for k in keys]).agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )


def materialize_rollup(
    spark: SparkSession,
    root: str,
    db: str,
    src_table: str,
    dst_table: str,
    bucket_ns: int,
    keys: Sequence[str],
    aggs: dict[str, Column],
    time_col: str = "time",
    start_ns: int | None = None,
    end_ns: int | None = None,
) -> str:
    """Roll ``src_table`` up into ``dst_table`` (reference layout).

    ``start_ns``/``end_ns`` bound an incremental refresh: only source
    rows in [start, end) re-roll (bucket-aligned bounds recommended —
    buckets are disjoint so re-materializing a window is exact).
    The source ``time_col`` is read as int64 ns whatever its stored unit
    (``session.time_ns``). Returns the destination table path.
    """
    import os

    src = (
        spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "*.parquet")  # skip metadata.json sidecars
        .parquet(os.path.join(root, db, src_table, "data"))
    )
    src = src.withColumn(time_col, time_ns(src, time_col))
    if start_ns is not None:
        src = src.where(F.col(time_col) >= int(start_ns))
    if end_ns is not None:
        src = src.where(F.col(time_col) < int(end_ns))
    rolled = rollup_frame(src, bucket_ns, keys, aggs, time_col=time_col)
    return write_table(rolled, root, db, dst_table, time_col=time_col)
