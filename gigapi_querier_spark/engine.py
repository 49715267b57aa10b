"""QueryEngine — the QueryClient equivalent (reference contract:
``Query(ctx, query, dbName) -> rows``, core/query.go:8-16; pipeline
querier/queryClient.go:713-930).

Lifecycle per query (SURVEY.md §3.1, Spark-first):

1. normalize; special-case SHOW DATABASES / SHOW TABLES;
2. light pre-pass → table + time bounds (plans/sqlpass.py);
   on parse failure → execute the (dialect-shimmed) SQL verbatim
   (reference fallback, queryClient.go:768-815);
3. catalog prune → explicit parquet file list (sources/catalog.py);
4. bind ``spark.read.parquet(*files)`` as a temp view named like the
   table, run the original SQL through ``spark.sql`` (which analyzes it
   eagerly) and drop the view again — no FROM-clause
   string surgery (deliberate divergence from queryClient.go:838-861;
   same observable semantics, none of the self-reference bugs). The
   time literals are folded to ns integers, and when the index proves
   every kept file holds only non-null ``time`` values inside the range
   (``TableIndex.covers``), the top-level ``time`` conjuncts become
   ``TRUE``: they hold on every row, and Spark skips re-checking them
   per row group;
5. hand back the DataFrame (callers choose collect / Arrow / stream).

Scale: stage 3 is a metadata operation (index JSON, no data I/O). Stage 4
binds a relation cached per (table, file signatures): a repeated file set
re-binds it with no listing, no footer reads and no Spark job, and only a
new or changed file set pays one ``mergeSchema`` read. Execution is a
distributed scan with Catalyst predicate pushdown + row-group skipping
layered under the engine's file-level pruning.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from gigapi_querier_spark.formats import arrow_rows
from gigapi_querier_spark.plans.sqlpass import (
    ParseError,
    drop_time_conjuncts,
    normalize,
    parse_query,
    rewrite_qualify_all,
    rewrite_time_literals,
    strip_db_qualifier,
    sub_unquoted,
    to_spark_sql,
)
from gigapi_querier_spark.session import TIMESTAMP_TYPES, file_status, time_ns


class QueryError(Exception):
    """User-facing query failure → HTTP 400 {"error": msg} (reference
    querier/server.go:206-212)."""


@dataclass
class QueryStats:
    """What the last query bound: files kept and how the bind went."""

    n_files: int = 0
    relation_cached: bool = False  # the bind reused a cached relation
    time_conjuncts_dropped: bool = False  # the index covered the range


class QueryEngine:
    DEFAULT_DB = "mydb"  # HTTP default (reference querier/server.go:188)
    #: Bound relations kept (LRU). Small, because each entry holds its
    #: files' FileStatus objects in the JVM.
    RELATION_CACHE_SIZE = 256

    def __init__(self, spark: SparkSession, root: str | None = None, index=None):
        from gigapi_querier_spark.sources.index import index_from_env

        self.spark = spark
        self.root = root or os.environ.get("GIGAPI_ROOT", "/data")
        # Metadata backend switch (reference queryClient.go:408-433):
        # GIGAPI_METADATA_TYPE=json|redis, or inject any TableIndex.
        self.catalog = index if index is not None else index_from_env(self.root)
        self.last_stats = QueryStats()
        self._bind_lock = threading.Lock()
        # Bound-relation cache (SURVEY.md §7.3 hard part 4): binding lists
        # every file and mergeSchema re-reads every footer — on a wide
        # drifting table at 100 TB that's thousands of S3 GETs per request.
        # Key includes the file signatures, so any new/changed file misses.
        self._relations: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._relations_lock = threading.Lock()

    # ------------------------------------------------------------------
    def query(self, sql: str, db: str | None = None) -> DataFrame:
        """Execute a query, returning a DataFrame."""
        db = db or self.DEFAULT_DB
        sql = normalize(sql)
        upper = sql.upper().rstrip(";")

        if upper == "SHOW DATABASES":
            return self._one_col_df("database_name", self.catalog.databases())
        if upper == "SHOW TABLES":
            return self._one_col_df("table_name", self.catalog.tables(db))

        # DuckDB session statements (SET threads=4; PRAGMA memory_limit=...)
        # configure the embedded engine in the reference; here execution
        # tuning is session-level Spark conf, so accept-and-ignore keeps
        # pasted scripts working instead of erroring on line one.
        if re.match(r"(?:SET|PRAGMA|INSTALL|LOAD)\b", sql, re.IGNORECASE):
            return self._one_col_df("status", ["ok"])

        # DESCRIBE <table> — DuckDB-dialect meta command a reference user
        # types into the UI; bind the table's files then let Spark answer.
        m = re.match(r"(?:DESCRIBE|DESC)\s+(?:(\w+)\.)?(\w+)\s*;?$", sql, re.IGNORECASE)
        if m and m.group(2).upper() not in ("SELECT", "TABLE"):
            dsc_db = m.group(1) or db
            table = m.group(2)
            files = self.catalog.find_files(dsc_db, table, None)
            if files:
                self.last_stats = QueryStats(n_files=len(files))
                df = self._relation(dsc_db, table, files)
                return self._run_sql(f"DESCRIBE {table}", {table: df})

        try:
            parsed = parse_query(sql, db)
        except ParseError:
            # Fallback: run verbatim (meta queries, SELECT 1, full dialect)
            return self._run_sql(sql)

        files = self.catalog.find_files(
            parsed.db_name, parsed.measurement, parsed.time_range
        )
        self.last_stats = QueryStats(n_files=len(files))
        if not files:
            # The reference would hand DuckDB an empty read_parquet([]) and
            # surface its error; a catalogued-but-empty range is not an
            # error here — but an unknown table is.
            if parsed.measurement not in self.catalog.tables(parsed.db_name):
                return self._run_sql(sql)  # maybe a real Spark table/view
            raise QueryError(
                f"no files in time range for {parsed.db_name}.{parsed.measurement}"
            )

        df = self._relation(parsed.db_name, parsed.measurement, files)
        run_sql = strip_db_qualifier(sql, parsed.db_name, parsed.measurement)
        # time-literal normalization (A10): comparisons against the int64-ns
        # time column fold to ns integer literals
        run_sql = rewrite_time_literals(run_sql)
        tr = parsed.time_range
        if not tr.is_empty and self.catalog.covers(files, tr):
            run_sql = drop_time_conjuncts(run_sql)
            self.last_stats.time_conjuncts_dropped = True
        return self._run_sql(run_sql, {parsed.measurement: df})

    def _relation(self, db: str, table: str, files: list[str]) -> DataFrame:
        """The bound relation over ``files``: cached, or one mergeSchema
        read. The read runs outside both locks, so a slow miss blocks
        neither other binds nor cache hits. A timestamp ``time`` column is
        bound as int64 ns, like the literals ``rewrite_time_literals`` folds."""
        key = (db, table, frozenset(self._sig(f) for f in files))
        with self._relations_lock:
            df = self._relations.get(key)
            if df is not None:
                self._relations.move_to_end(key)
        self.last_stats.relation_cached = df is not None
        if df is None:
            df = self.spark.read.option("mergeSchema", "true").parquet(*files)
            if "time" in df.columns and isinstance(
                df.schema["time"].dataType, TIMESTAMP_TYPES
            ):
                df = df.withColumn("time", time_ns(df, "time"))
            with self._relations_lock:
                self._relations[key] = df
                if len(self._relations) > self.RELATION_CACHE_SIZE:
                    self._relations.popitem(last=False)
        return df

    def _sig(self, f: str) -> tuple[str, int, int]:
        """(path, size, mtime) cache key component: a file REWRITTEN IN
        PLACE (compaction: same path, new schema) must miss the relation
        cache, not just added/removed files. ``file_status`` stats local
        paths with ``os.stat`` and any ``scheme://`` path (file, s3a, hdfs,
        …) through the Hadoop FileSystem API, so object-store rewrites
        invalidate too. Both are metadata-only calls, cheap relative to
        footer reads; a file that cannot be stat'ed signs as ``(-1, -1)``."""
        try:
            return (f, *file_status(self.spark, f))
        except Exception:
            return (f, -1, -1)

    #: Row cap for fully-materialized results (HTTP format=json). The
    #: reference materializes unbounded row maps (queryClient.go:886-920)
    #: — a driver-OOM edge at scale; here an oversized result is a clean
    #: 400 pointing at the streaming edge. 0/negative disables the cap.
    MAX_JSON_ROWS = int(os.environ.get("GIGAPI_MAX_JSON_ROWS", 1_000_000))

    def query_rows(
        self, sql: str, db: str | None = None, max_rows: int | None = None
    ) -> list[dict]:
        """Collect results as row dicts with the reference's count-null→0
        rule applied (queryClient.go:911-914).

        The result is fetched with one ``toArrow()``: one Spark job whose
        partitions are collected in parallel. Like the Flight edge's
        ``to_arrow``, that collect is bounded by
        ``spark.driver.maxResultSize``. The row cap ``max_rows`` (default
        ``MAX_JSON_ROWS``) is checked on the Arrow table before any Python
        row is built, so Python memory stays bounded by the cap; a larger
        result raises QueryError."""
        table = self.query(sql, db).toArrow()
        cap = self.MAX_JSON_ROWS if max_rows is None else max_rows
        if cap and cap > 0 and table.num_rows > cap:
            raise QueryError(
                f"result exceeds {cap} rows for format=json; "
                "add a LIMIT or use format=ndjson (streamed)"
            )
        rows = arrow_rows(table)
        count_cols = [c for c in table.column_names if "count" in c]
        for d in rows:
            for c in count_cols:
                if d[c] is None:
                    d[c] = 0
        return rows

    # ------------------------------------------------------------------
    _READ_PARQUET = re.compile(
        r"read_parquet\s*\(\s*(\[[^\]]*\]|'[^']*')\s*(?:,\s*union_by_name\s*=\s*\w+\s*)?\)",
        re.IGNORECASE,
    )
    _READ_CSV = re.compile(
        r"read_csv(?:_auto)?\s*\(\s*(\[[^\]]*\]|'[^']*')\s*(?:,[^)]*)?\)",
        re.IGNORECASE,
    )
    _READ_JSON = re.compile(
        r"read_(?:nd)?json(?:_auto|_objects)?\s*\(\s*(\[[^\]]*\]|'[^']*')\s*(?:,[^)]*)?\)",
        re.IGNORECASE,
    )

    def _bind_file_readers(self, sql: str, views: dict[str, DataFrame]) -> str:
        """DuckDB table-function compatibility: ``read_parquet([...],
        union_by_name=true)`` is the form the reference's own rewrite
        emits (queryClient.go:855-860); ``read_csv_auto``/``read_json_auto``
        are the dialect's other file readers users paste in. Each call
        becomes a view name, and its frame over the file list (mergeSchema /
        inferred schemas — Spark's multi-file union semantics) is added to
        ``views``."""

        def binder(kind: str):
            def bind(m: re.Match) -> str:
                files = re.findall(r"'([^']+)'", m.group(1))
                if not files:
                    return m.group(0)
                view = f"__{kind}_{len(views)}"
                if kind == "read_parquet":
                    df = self.spark.read.option("mergeSchema", "true").parquet(*files)
                elif kind == "read_csv":
                    df = (
                        self.spark.read.option("header", "true")
                        .option("inferSchema", "true")
                        .csv(list(files))
                    )
                else:  # read_json: DuckDB reads json/ndjson files
                    df = self.spark.read.json(list(files))
                views[view] = df
                return view

            return bind

        sql = sub_unquoted(self._READ_PARQUET, binder("read_parquet"), sql)
        sql = sub_unquoted(self._READ_CSV, binder("read_csv"), sql)
        return sub_unquoted(self._READ_JSON, binder("read_json"), sql)

    def _run_sql(
        self, sql: str, views: dict[str, DataFrame] | None = None
    ) -> DataFrame:
        """Run ``sql`` with ``views`` (name → frame) and its file-reader
        calls bound as temp views for its analysis only. Temp views are
        session-global, so the views are created, the statement analyzed
        and the views dropped under ``_bind_lock``: no concurrent statement
        sees or replaces them, and no later one resolves a name to a view
        left behind. ``spark.sql`` resolves every view into the plan
        eagerly, so the returned frame stays valid once they are dropped."""
        views = dict(views or {})
        try:
            if re.search(r"read_(parquet|csv|n?json)", sql, re.IGNORECASE):
                sql = self._bind_file_readers(sql, views)
            sql = to_spark_sql(rewrite_qualify_all(sql))
            with self._bind_lock:
                try:
                    for name, df in views.items():
                        df.createOrReplaceTempView(name)
                    return self.spark.sql(sql)
                finally:
                    for name in views:
                        self.spark.catalog.dropTempView(name)
        except Exception as e:
            # DuckDB-isms beyond the regex shims (e.g. a `[1, 2]` list
            # literal) and unreadable files surface as a QueryError with
            # Spark's message.
            raise QueryError(str(e)) from e

    def _one_col_df(self, col: str, values: list[str]) -> DataFrame:
        schema = StructType([StructField(col, StringType())])
        return self.spark.createDataFrame([(v,) for v in values], schema)
