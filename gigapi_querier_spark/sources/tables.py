"""Flat-parquet table loading for the benchmark/correctness fixtures.

The driver materializes one parquet file per table under
``/root/testdata/sf{N}/`` (TESTDATA.md). This module loads them and
registers temp views so both the DataFrame-API and ``spark.sql`` paths see
the same names DuckDB's oracle sees.

``events.ts`` is loaded as LongType epoch nanoseconds — the reference's time
model (int64 ns ``time`` column, querier/queryClient.go:185-337) — whatever
its parquet unit (the fixtures store timestamp[us]; ``session.time_ns``).
Other timestamp columns (the TPC-H dates) keep their type.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gigapi_querier_spark.session import time_ns

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables — always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


#: (applicationId, sf_dir, name) -> DataFrame. Loading a parquet DataFrame
#: reads footers for schema inference; memoizing keeps repeated queries from
#: re-paying that I/O (plans are immutable and reusable).
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (schema-memoized)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = df.withColumn("ts", time_ns(df, "ts"))
        _TABLE_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load fixture tables and register each as a temp view.

    Registration is idempotent and cheap (lazy plans; nothing is scanned
    until an action runs).
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
