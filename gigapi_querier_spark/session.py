"""SparkSession bootstrap — counterpart of the reference's Initialize()
(querier/queryClient.go:46-64, which opens one shared DuckDB handle). Here
one shared SparkSession, tuned for Parquet analytics; its SQL conf is the
one ``SQL_CONF`` mapping below.

Scale notes (targets a 1000-executor cluster; tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast selection.
- ``nanosAsLong``: the reference's data model stores ``time`` as int64 epoch
  nanoseconds (SURVEY.md §1.3). Spark's TimestampType is µs, so ns-unit
  parquet columns are surfaced as LongType ns — matching the reference
  exactly — and converted only at presentation edges.
- ``time_ns``: coarser-unit parquet (timestamp[us]) surfaces as TIMESTAMP or
  TIMESTAMP_NTZ; every reader of a time-model column goes through it.
- Session timezone pinned to UTC so timestamp semantics are stable across
  drivers/executors.
- Nothing is registered on a session: ``epoch_*``/``time_bucket_ns`` are
  inline rewrites (``plans.sqlpass.to_spark_sql``), so any session runs
  the engine's SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

# Shuffle partitions scale with data volume, not a constant: a 100 TB /
# 1000-executor deployment sets this to 2-3× total cores (or a high
# initialPartitionNum and lets AQE coalesce). The local default of 16 is
# sized for the single-node fixtures, where per-task launch overhead
# outweighs extra parallelism (measured: 16 beats both 8 and 32 here).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "16"))


#: The session's runtime-settable SQL conf — the single place the engine's
#: execution profile is written. ``get_spark`` passes it to the builder and
#: ``__spark_entry__._ensure_session_conf`` applies it to a session a
#: caller built without us, so both paths run the same profile.
SQL_CONF: dict[str, str] = {
    # --- time model (reference parity) ---
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Broadcast threshold 2 MB (default 10 MB): the default is sized for
    # "fits in memory", not "worth collecting to the driver and shipping
    # to every executor" — at the default, a borderline FACT side
    # (lineitem at small SF) gets broadcast, paying a 600k-row driver
    # collect per query. 2 MB keeps genuinely fixed-size dims
    # (region/nation/supplier) on the broadcast path and pushes anything
    # that grows with data volume to shuffle joins — the scale-correct
    # default; AQE may still upgrade a join whose runtime (post-filter)
    # size fits.
    "spark.sql.autoBroadcastJoinThreshold": "2097152",
    # --- adaptive execution: runtime re-plan at scale ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Advisory size tuned for analytics where post-shuffle work is
    # CPU-heavy per byte (hashing, string ops): 8 MB keeps coalesced
    # partitions numerous enough to use the cluster; at 100 TB this
    # yields more, smaller tasks — safe, just more scheduling.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    # InferFiltersFromGenerate duplicates the generator expression into a
    # pushed-down Filter; for expensive generators (shingle arrays,
    # per-row transforms ahead of explode) that doubles the dominant cost
    # and runs it below the parallelizing exchange. The rule only saves
    # work for rows with empty arrays — not worth it here.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    # --- scan shape ---
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Parquet split floor. Spark sizes scan splits as
    # ``min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))``;
    # the default 4 MB floor pins a 20-100 MB table to a handful of tasks
    # (measured: events @ sf1.0 = 6 tasks while 26 cores idle). 1 MB says
    # "a task is worth spawning per MB of parquet" — right for page-cached
    # local reads and harmless at 100 TB, where bytes per core far exceed
    # maxPartitionBytes and splits stay at 128 MB regardless.
    "spark.sql.files.openCostInBytes": str(1024 * 1024),
    # List input paths on the driver, never in a distributed job. Above the
    # default threshold (32 paths) Spark lists with one task per path: 720
    # tasks for a 30-day range. The engine passes leaf files the catalog
    # has already found and isfile-checked, so there is nothing to discover
    # and serial driver-side listing is the cheap path (binding 720 local
    # files, median of 5 on 4 cores: 4.6 s -> 0.29 s).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
    "spark.sql.parquet.filterPushdown": "true",
    # --- Python <-> JVM boundary is Arrow-batched everywhere ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


#: Column types ``time_ns`` converts; any other type is taken as int64 ns.
TIMESTAMP_TYPES = (TimestampType, TimestampNTZType)


def time_ns(df: DataFrame, name: str) -> Column:
    """Column ``name`` of ``df`` as int64 epoch ns, at µs precision and
    whatever the session time zone (NTZ is read as UTC, as DuckDB does).
    An int64 column is ns already and passes through."""
    dtype, c = df.schema[name].dataType, F.col(name)
    if isinstance(dtype, TimestampType):
        return F.unix_micros(c) * 1000
    if isinstance(dtype, TimestampNTZType):
        epoch = F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")
        return F.timestamp_diff("MICROSECOND", epoch, c) * 1000
    return c


def file_status(spark: SparkSession, path: str) -> tuple[int, int]:
    """(size in bytes, modification time) of a file, from metadata only.
    A local path (``file:`` prefix allowed) uses ``os.stat`` (mtime in
    ns); any ``scheme://`` URI (file, s3a, hdfs, …) goes through Hadoop's
    FileSystem API (mtime in ms), so object-store files are stat'ed too.
    Raises when the file cannot be stat'ed."""
    if "://" not in path:
        st = os.stat(path.removeprefix("file:"))
        return st.st_size, st.st_mtime_ns
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    st = p.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(p)
    return int(st.getLen()), int(st.getModificationTime())


def get_spark(
    app_name: str = "gigapi-querier-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or return) the shared SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Static confs: fixed at session creation, so builder-only.
        # Whole-stage-codegen class cache: the default 100 entries thrashes
        # under a mixed workload: ~16 distinct queries generate ~100
        # classes per cycle, so every query recompiled every cycle
        # (~0.3-0.5 s each). A query service compiles each plan once and
        # keeps it.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(map={**SQL_CONF, **(extra_conf or {})})
    )
    return builder.getOrCreate()

