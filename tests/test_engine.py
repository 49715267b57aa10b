"""End-to-end engine tests over the weather fixture (reference lifecycle
§3.1: parse → prune → bind → execute → encode)."""

from __future__ import annotations

import pytest

from gigapi_querier_spark.engine import QueryEngine, QueryError
from tests.fixtures import build_weather_root


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("gigapi_root"))
    build_weather_root(root)
    return QueryEngine(spark, root=root)


def test_count_with_time_range_prunes(engine):
    rows = engine.query_rows(
        "SELECT count(*) AS value FROM weather"
        " WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z'",
        "mydb",
    )
    assert rows == [{"value": 24}]
    assert engine.last_stats.n_files == 2  # only the two Jan-2 hour files


def test_aggregation_over_all(engine):
    rows = engine.query_rows(
        "SELECT location, count(*) AS n, round(avg(temperature), 2) AS avg_t"
        " FROM weather GROUP BY location ORDER BY location",
        "mydb",
    )
    assert [r["location"] for r in rows] == ["east", "north", "south"]
    assert sum(r["n"] for r in rows) == 84


def test_db_qualifier_in_sql(engine):
    rows = engine.query_rows("SELECT count(*) AS value FROM mydb.weather", "other")
    assert rows == [{"value": 84}]


def test_merge_schema_drift(engine):
    # 'pressure' exists only in one drift file; engine must union by name
    rows = engine.query_rows(
        "SELECT count(pressure) AS n_pressure, count(*) AS n FROM weather"
        " WHERE time >= '2024-01-03T12:00:00Z' AND time <= '2024-01-03T13:00:00Z'",
        "mydb",
    )
    assert rows == [{"n_pressure": 6, "n": 12}]


def test_epoch_ns_comparison(engine):
    # the reference's rewritten form must execute against the long column
    rows = engine.query_rows(
        "SELECT count(*) AS value FROM weather"
        " WHERE time >= epoch_ns('2024-01-02T00:00:00'::TIMESTAMP)"
        " AND time <= epoch_ns('2024-01-02T23:59:59'::TIMESTAMP)",
        "mydb",
    )
    assert rows == [{"value": 24}]


def test_count_null_rule(engine):
    # count* columns: engine coalesces NULL → 0 (queryClient.go:911-914)
    rows = engine.query_rows(
        "SELECT max(count) AS count_max FROM weather WHERE temperature < -100", "mydb"
    )
    assert rows == [{"count_max": 0}]


def test_show_databases_tables(engine):
    rows = engine.query_rows("SHOW DATABASES")
    assert {r["database_name"] for r in rows} == {"mydb", "otherdb"}
    rows = engine.query_rows("SHOW TABLES", "mydb")
    assert {r["table_name"] for r in rows} == {"weather", "metrics"}


def test_fallback_select_1(engine):
    assert engine.query_rows("SELECT 1 AS x") == [{"x": 1}]


def test_fallback_version(engine):
    rows = engine.query_rows("SELECT version() AS v")
    assert rows and rows[0]["v"]


def test_unknown_table_errors(engine):
    with pytest.raises(QueryError):
        engine.query_rows("SELECT * FROM nosuchtable", "mydb")
    # the raw-SQL fallback surfaces what Spark cannot run as a QueryError
    # (HTTP 400), not a crash: a DuckDB-ism beyond every regex shim (the
    # `[1, 2]` list literal) and SQL that parses as nothing
    with pytest.raises(QueryError):
        engine.query_rows("SELECT list_transform([1, 2], lambda x: x + 1) AS xs")
    with pytest.raises(QueryError):
        engine.query_rows("SELECT definitely not sql !!!")


def test_empty_time_range_errors(engine):
    with pytest.raises(QueryError):
        engine.query_rows(
            "SELECT * FROM weather WHERE time >= '2030-01-01T00:00:00Z'"
            " AND time <= '2030-01-02T00:00:00Z'",
            "mydb",
        )


_D2, _D3 = 1_704_153_600_000_000_000, 1_704_240_000_000_000_000  # Jan 2 / Jan 3
_ISO = {"D2": "'2024-01-02T00:00:00Z'", "D3": "'2024-01-03T00:00:00Z'"}


@pytest.mark.parametrize(
    "sql, n_files",
    [
        # a time predicate that does not bound every row prunes nothing
        ("SELECT count(*) AS n FROM weather"
         " WHERE location = 'east' AND (time >= {D3} OR time < {D2})", 8),
        ("SELECT count(*) AS n FROM weather"
         " WHERE (time >= {D3} OR location = 'east')", 8),
        ("SELECT count(*) AS n FROM weather WHERE location = 'east'"
         " AND CASE WHEN time >= {D3} THEN true ELSE true END", 8),
        ("WITH r AS (SELECT * FROM weather WHERE time >= {D3})"
         " SELECT count(*) AS n FROM weather", 8),
        ("SELECT count(*) AS n FROM weather"
         " UNION ALL SELECT count(*) AS n FROM weather WHERE time >= {D3}", 8),
        ("SELECT count(*) AS n FROM weather"
         " WHERE location = 'east' /* AND time >= {D3} AND */ AND true", 8),
        # top-level conjuncts do; ``<`` is exclusive, so Jan 3 00:00 is out
        ("SELECT count(*) AS n FROM weather WHERE time >= {D2} AND time < {D3}", 2),
        (f"SELECT count(*) AS n FROM weather WHERE time >= {_D3}", 4),
    ],
    ids=["and_or", "or", "case", "cte", "union", "comment", "conjuncts", "ns_literal"],
)
def test_time_pruning_matches_duckdb(engine, sql, n_files):
    """Rows equal DuckDB's over the table's full file list, and only
    top-level ``time`` conjuncts prune files."""
    import duckdb

    files = engine.catalog.find_files("mydb", "weather", None)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW weather AS SELECT * FROM read_parquet({files!r}, union_by_name=true)"
    )
    expect = sorted(con.execute(sql.format(D2=_D2, D3=_D3)).fetchall())
    rows = engine.query_rows(sql.format(**_ISO), "mydb")
    assert sorted(tuple(r.values()) for r in rows) == expect
    assert engine.last_stats.n_files == n_files


def test_sql_functions_on_a_new_session(engine, spark):
    """``epoch_*`` and ``time_bucket_ns`` need nothing registered on the
    session."""
    eng = QueryEngine(spark.newSession(), root=engine.root)
    rows = eng.query_rows(
        "SELECT time_bucket_ns(3600000000000, time) AS b,"
        " epoch_ms('2024-01-01T00:00:00'::TIMESTAMP) AS ms,"
        " epoch_ns('2024-01-01T00:00:00.000001'::TIMESTAMP) AS ns,"
        " epoch_s('2024-01-01T00:00:01'::TIMESTAMP) AS s"
        " FROM weather WHERE time = '2024-01-01T00:05:00Z'",
        "mydb",
    )
    assert rows == [
        {"b": 1704067200000000000, "ms": 1704067200000, "ns": 1704067200000001000,
         "s": 1704067201}
    ]


def test_qualify_shim(engine):
    rows = engine.query_rows(
        "SELECT location, temperature FROM weather"
        " QUALIFY row_number() OVER (PARTITION BY location ORDER BY temperature DESC, time) = 1",
        "mydb",
    )
    assert len(rows) == 3  # one top reading per location
    assert set(rows[0].keys()) == {"location", "temperature"}


def test_pg_cast_shim(engine):
    rows = engine.query_rows(
        "SELECT count(*) AS value FROM weather"
        " WHERE time >= '2024-01-02T00:00:00'::TIMESTAMP"
        "   AND time <= '2024-01-02T23:59:59'::TIMESTAMP",
        "mydb",
    )
    assert rows == [{"value": 24}]


def test_pg_cast_native(engine):
    # ``::`` inside a string literal is text, and a parameterised type
    # keeps its parameters
    rows = engine.query_rows(
        "SELECT 'a::int' AS s, 1.2345::DECIMAL(10,2) AS d, '7'::BIGINT AS n",
        "mydb",
    )
    assert [(r["s"], str(r["d"]), r["n"]) for r in rows] == [("a::int", "1.23", 7)]
    rows = engine.query_rows(
        "SELECT max(temperature::DECIMAL(10,2)) AS t FROM weather", "mydb"
    )
    assert len(rows) == 1 and rows[0]["t"] is not None


def test_schema_cache_hits_on_repeat(engine):
    engine._relations.clear()
    engine.query_rows("SELECT count(*) AS value FROM weather", "mydb")
    assert len(engine._relations) == 1
    # identical file set → cache hit (no new entry, same schema applied)
    engine.query_rows("SELECT count(*) AS value FROM weather", "mydb")
    assert len(engine._relations) == 1
    # different (pruned) file set → separate entry
    engine.query_rows(
        "SELECT count(*) AS value FROM weather"
        " WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z'",
        "mydb",
    )
    assert len(engine._relations) == 2


def test_read_parquet_compat(engine):
    # the form the reference's own rewrite emits (read_parquet list +
    # union_by_name) must keep working for captured client queries
    rows = engine.query_rows(
        "SELECT count(*) AS value FROM read_parquet("
        "['/root/testdata/sf0.001/region.parquet'], union_by_name=true)"
    )
    assert rows == [{"value": 5}]


def test_file_path_query_via_fallback(engine):
    rows = engine.query_rows(
        "SELECT count(*) AS value FROM parquet.`/root/testdata/sf0.001/nation.parquet`"
    )
    assert rows == [{"value": 25}]


# --- DuckDB-dialect fallback corpus (VERDICT r1 missing#2) -----------------
# Reference-README-style queries in DuckDB dialect must execute through the
# engine (querier/queryClient.go:778-815 passes the full dialect through).


def test_dialect_str_split_and_list_funcs(engine):
    rows = engine.query_rows(
        "SELECT list_contains(str_split(location, 'o'), 'n') AS has_n"
        " FROM weather WHERE location = 'north' LIMIT 1",
        "mydb",
    )
    assert rows == [{"has_n": True}]


def test_dialect_list_sum_transform(engine):
    rows = engine.query_rows(
        "SELECT list_sum(list_transform(str_split(location, 'o'), x -> length(x)))"
        " AS n FROM weather WHERE location = 'east' LIMIT 1",
        "mydb",
    )
    assert rows == [{"n": 4.0}]  # 'east' has no 'o' → one chunk of length 4


def test_dialect_str_split_dot_delimiter(engine):
    # ADVICE r2 (medium): a '.' delimiter must split literally, not act
    # as a match-anything regex (backslash must survive the SQL
    # string-literal layer)
    rows = engine.query_rows("SELECT str_split('a.b.c', '.') AS xs")
    assert rows == [{"xs": ["a", "b", "c"]}]
    rows = engine.query_rows("SELECT str_split('a|b|c', '|') AS xs")
    assert rows == [{"xs": ["a", "b", "c"]}]


def test_dialect_str_split_runtime_delimiter_literal(engine):
    # a runtime (column) delimiter splits on its value: regex metachars and
    # a backslash-E pair inside it stay literal
    rows = engine.query_rows(
        "SELECT str_split(s, d) AS xs"
        " FROM (SELECT 'a\\\\E.b\\\\E.c' AS s, '\\\\E.' AS d)"
    )
    assert rows == [{"xs": ["a", "b", "c"]}]
    rows = engine.query_rows(
        "SELECT str_split(s, d) AS xs FROM (SELECT 'a.*b.*c' AS s, '.*' AS d)"
    )
    assert rows == [{"xs": ["a", "b", "c"]}]


def test_dialect_list_slice_inclusive_end(engine):
    # ADVICE r2 (medium): DuckDB list_slice end is inclusive
    rows = engine.query_rows(
        "SELECT list_slice(list_value(1, 2, 3, 4, 5), 2, 4) AS xs"
    )
    assert rows == [{"xs": [2, 3, 4]}]


def test_dialect_list_position_null_on_miss(engine):
    rows = engine.query_rows(
        "SELECT list_position(list_value(1, 2, 3), 9) AS p,"
        " list_position(list_value(1, 2, 3), 2) AS q"
    )
    assert rows == [{"p": None, "q": 2}]


def test_dialect_list_prepend_duckdb_order(engine):
    # DuckDB: list_prepend(elem, list); Spark: array_prepend(array, elem)
    rows = engine.query_rows("SELECT list_prepend(1, list_value(2, 3)) AS xs")
    assert rows == [{"xs": [1, 2, 3]}]


def test_dialect_lambda_int_body(engine):
    rows = engine.query_rows(
        "SELECT transform(list_value(5, 6), x -> 0) AS out"
    )
    assert rows == [{"out": [0, 0]}]


def test_dialect_using_sample_rows(engine):
    rows = engine.query_rows(
        "SELECT * FROM weather USING SAMPLE 5 ROWS",
        "mydb",
    )
    assert len(rows) == 5


def test_dialect_epoch_ms(engine):
    rows = engine.query_rows(
        "SELECT epoch_ms('2024-01-01T00:00:00'::TIMESTAMP) AS ms", "mydb"
    )
    assert rows == [{"ms": 1704067200000}]


def test_dialect_similar_to(engine):
    rows = engine.query_rows(
        "SELECT count(*) AS n FROM weather WHERE location SIMILAR TO 'n.*h'",
        "mydb",
    )
    assert rows[0]["n"] > 0


def test_schema_cache_misses_on_inplace_rewrite(engine, spark, tmp_path_factory):
    """ADVICE r1: a file rewritten in place (same path, new schema) must
    miss the schema cache, not serve the stale merged schema."""
    import os
    import time as _time

    from gigapi_querier_spark.engine import QueryEngine
    from tests.fixtures import build_weather_root

    root = str(tmp_path_factory.mktemp("rewrite_root"))
    build_weather_root(root)
    eng = QueryEngine(spark, root=root)
    cols1 = set(eng.query("SELECT * FROM weather LIMIT 1", "mydb").columns)
    assert "extra_col" not in cols1
    # rewrite one partition file in place with an extra column
    target = None
    for dirpath, _, files in os.walk(os.path.join(root, "mydb", "weather")):
        for f in files:
            if f.endswith(".parquet"):
                target = os.path.join(dirpath, f)
                break
        if target:
            break
    df = spark.read.parquet(target)
    from pyspark.sql import functions as F

    tmp_out = str(tmp_path_factory.mktemp("rewrite_tmp"))
    df.withColumn("extra_col", F.lit(1)).coalesce(1).write.mode("overwrite").parquet(tmp_out)
    part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
    _time.sleep(0.01)  # ensure mtime advances
    os.replace(os.path.join(tmp_out, part), target)
    cols2 = set(eng.query("SELECT * FROM weather LIMIT 1", "mydb").columns)
    assert "extra_col" in cols2


def test_describe_table(engine):
    rows = engine.query_rows("DESCRIBE weather", "mydb")
    cols = {r["col_name"] for r in rows}
    assert {"time", "location", "temperature"} <= cols


def test_read_csv_auto_shim(engine, tmp_path):
    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    rows = engine.query_rows(
        f"SELECT count(*) AS n, max(a) AS ma FROM read_csv_auto('{csv}')", "mydb"
    )
    assert rows == [{"n": 2, "ma": 2}]


def test_read_json_auto_shim(engine, tmp_path):
    nd = tmp_path / "t.ndjson"
    nd.write_text('{"a": 1}\n{"a": 5}\n')
    rows = engine.query_rows(
        f"SELECT sum(a) AS s FROM read_json_auto('{nd}')", "mydb"
    )
    assert rows == [{"s": 6}]


def test_concurrent_different_time_ranges_no_view_race(engine):
    """Two concurrent queries on the SAME table with DIFFERENT pruned file
    sets must each see their own binding (temp views are session-global —
    the bind+analyze critical section is locked)."""
    from concurrent.futures import ThreadPoolExecutor

    def day_count(day: int) -> int:
        rows = engine.query_rows(
            f"SELECT count(*) AS n FROM weather"
            f" WHERE time >= '2024-01-0{day}T00:00:00Z'"
            f" AND time <= '2024-01-0{day}T23:59:59Z'",
            "mydb",
        )
        return rows[0]["n"]

    with ThreadPoolExecutor(8) as ex:
        results = list(ex.map(day_count, [1, 2, 3] * 8))
    # day 1 and 2 have 24 rows; day 3 adds the hour=12 drift block
    expected = {1: 24, 2: 24, 3: 36}
    for day, n in zip([1, 2, 3] * 8, results):
        assert n == expected[day], (day, n)


def test_concurrent_describe_and_query_no_view_race(engine):
    """DESCRIBE binds the same session-global temp view as the query path;
    both binds now hold _bind_lock (VERDICT r3 wrong#2), so interleaved
    DESCRIBE + data queries must never cross-contaminate."""
    from concurrent.futures import ThreadPoolExecutor

    def describe() -> set[str]:
        rows = engine.query_rows("DESCRIBE weather", "mydb")
        return {r["col_name"] for r in rows}

    def day1_count() -> int:
        rows = engine.query_rows(
            "SELECT count(*) AS n FROM weather"
            " WHERE time >= '2024-01-01T00:00:00Z'"
            " AND time <= '2024-01-01T23:59:59Z'",
            "mydb",
        )
        return rows[0]["n"]

    jobs = [describe, day1_count] * 8
    with ThreadPoolExecutor(8) as ex:
        results = list(ex.map(lambda f: f(), jobs))
    for job, res in zip(jobs, results):
        if job is describe:
            assert {"time", "temperature"} <= res, res
        else:
            assert res == 24, res


def test_duckdb_session_statements_noop(engine):
    for sql in ("SET threads=4", "PRAGMA memory_limit='2GB'", "INSTALL httpfs"):
        rows = engine.query_rows(sql, "mydb")
        assert rows == [{"status": "ok"}]
    # plain queries still work after
    assert engine.query_rows("SELECT 1 AS x", "mydb") == [{"x": 1}]


# -- relation cache over a 40-file hourly lake (above Spark's default
#    32-path threshold for a distributed listing job) ----------------------

HOURLY_ROWS = 10


def _write_hour(root: str, hour: int) -> None:
    """One ``date=/hour=`` folder of the ``mydb.hourly`` table: a parquet
    file of HOURLY_ROWS rows plus its metadata.json."""
    import json
    import os

    from tests.fixtures import NS, _ns, _write_file

    t0 = _ns(2024, 2, 1 + hour // 24, hour % 24)
    folder = os.path.join(
        root, "mydb", "hourly", "data", f"date=2024-02-{1 + hour // 24:02d}",
        f"hour={hour % 24:02d}",
    )
    entry = _write_file(
        os.path.join(folder, "part-0.parquet"),
        [t0 + i * 60 * NS for i in range(HOURLY_ROWS)],
    )
    with open(os.path.join(folder, "metadata.json"), "w") as f:
        json.dump(
            {"type": "parquet", "row_count": HOURLY_ROWS, "min_time": entry["min_time"],
             "max_time": entry["max_time"], "files": [entry]},
            f,
        )


@pytest.fixture
def hourly(spark, tmp_path):
    root = str(tmp_path)
    for h in range(40):
        _write_hour(root, h)
    return QueryEngine(spark, root=root), root


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched on this thread)."""
    import uuid

    sc = spark.sparkContext
    gid = f"bind-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events reach the tracker
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


HOURLY_ALL = "SELECT count(*) AS n FROM hourly"


def test_first_bind_launches_no_listing_job(hourly, spark):
    eng, _ = hourly
    df, jobs = _spark_jobs(spark, lambda: eng.query(HOURLY_ALL, "mydb"))
    assert eng.last_stats.n_files == 40
    assert not eng.last_stats.relation_cached
    assert jobs <= 1, jobs  # the footer merge only; no per-path listing job
    assert df.collect()[0]["n"] == 40 * HOURLY_ROWS


def test_repeat_bind_launches_no_spark_job(hourly, spark):
    eng, _ = hourly
    eng.query(HOURLY_ALL, "mydb")
    df, jobs = _spark_jobs(spark, lambda: eng.query(HOURLY_ALL, "mydb"))
    assert eng.last_stats.relation_cached
    assert jobs == 0, jobs
    assert df.collect()[0]["n"] == 40 * HOURLY_ROWS


def test_new_hour_in_cached_range_misses(hourly):
    eng, root = hourly
    eng.query(HOURLY_ALL, "mydb")
    _write_hour(root, 40)
    rows = eng.query_rows(HOURLY_ALL, "mydb")
    assert not eng.last_stats.relation_cached
    assert eng.last_stats.n_files == 41
    assert rows == [{"n": 41 * HOURLY_ROWS}]


def test_query_rows_fetches_in_one_job(hourly, spark):
    """The json edge collects every partition in one parallel job (a
    ``take`` would scan one partition alone first, then scale up)."""
    eng, _ = hourly
    sql = "SELECT * FROM hourly"
    assert eng.query(sql, "mydb").rdd.getNumPartitions() >= 4  # binds, too
    rows, jobs = _spark_jobs(spark, lambda: eng.query_rows(sql, "mydb"))
    assert eng.last_stats.relation_cached
    assert jobs == 1, jobs
    assert len(rows) == 40 * HOURLY_ROWS


def test_concurrent_relation_cache_stays_bounded(hourly, monkeypatch):
    """Threads hitting, missing and evicting at once: no error, correct
    counts, and the cache never holds more than its bound."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    eng, _ = hourly
    monkeypatch.setattr(eng, "RELATION_CACHE_SIZE", 4)
    sizes = []

    def three_hours(start: int) -> int:
        rows = eng.query_rows(
            "SELECT count(*) AS n FROM hourly"
            f" WHERE time >= '2024-02-02T{start:02d}:00:00Z'"
            f" AND time < '2024-02-02T{start + 3:02d}:00:00Z'",
            "mydb",
        )
        with eng._relations_lock:
            sizes.append(len(eng._relations))
        return rows[0]["n"]

    starts = list(range(12)) * 3
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            results = list(ex.map(three_hours, starts, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert results == [3 * HOURLY_ROWS] * len(starts)
    assert max(sizes) <= 4


@pytest.mark.parametrize("time_type", ["timestamp[us]", "timestamp[us, tz=UTC]"])
def test_timestamp_lake_matches_int64_ns_lake(spark, tmp_path, time_type):
    """The same rows stored with ``time`` as int64 ns and as a µs timestamp
    prune to the same files and return the same rows: the timestamp
    column is bound as int64 ns."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gigapi_querier_spark.sources.writer import write_metadata
    from tests.fixtures import NS, _ns

    unit_type = {
        "timestamp[us]": pa.timestamp("us"),
        "timestamp[us, tz=UTC]": pa.timestamp("us", tz="UTC"),
    }[time_type]
    roots = {"ns": str(tmp_path / "ns"), "us": str(tmp_path / "us")}
    for h in range(6):
        times = [_ns(2024, 3, 1, h) + i * 7 * 60 * NS + i * 1000 for i in range(9)]
        cols = {"v": pa.array([h * 10 + i for i in range(9)], pa.int64())}
        for kind, time_col in (
            ("ns", pa.array(times, pa.int64())),
            ("us", pa.array([t // 1000 for t in times], pa.int64()).cast(unit_type)),
        ):
            folder = os.path.join(
                roots[kind], "mydb", "m", "data", "date=2024-03-01", f"hour={h:02d}"
            )
            os.makedirs(folder)
            pq.write_table(
                pa.table({"time": time_col, **cols}),
                os.path.join(folder, "part-0.parquet"),
            )
    for root in roots.values():
        write_metadata(os.path.join(root, "mydb", "m", "data"))
    sql = (
        "SELECT time, v FROM m WHERE time >= '2024-03-01T01:30:00Z'"
        " AND time < '2024-03-01T04:00:00.000007Z' ORDER BY time"
    )
    got = {}
    for kind, root in roots.items():
        eng = QueryEngine(spark, root=root)
        got[kind] = (eng.query_rows(sql, "mydb"), eng.last_stats.n_files)
    rows, n_files = got["ns"]
    assert n_files == 4 and len(rows) == 4 + 9 + 9 + 1
    assert got["us"] == got["ns"]


# -- time conjuncts the catalog proves ---------------------------------------


def _covered_lake(root: str) -> None:
    """``mydb.c``: hours 00–05 of 2024-03-01, eight rows each, with
    metadata.json from ``write_metadata``. Then, per hour: 02 holds a NULL
    ``time`` row, 03's metadata has no ``time_null_count``, 04's file is
    rewritten with one more row (its mtime set back to the metadata's) and
    05's file is touched after its metadata was written."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gigapi_querier_spark.sources.writer import write_metadata
    from tests.fixtures import NS, _ns

    data = os.path.join(root, "mydb", "c", "data")

    def hour_file(h: int, n: int = 8, null_time: bool = False) -> str:
        folder = os.path.join(data, "date=2024-03-01", f"hour={h:02d}")
        os.makedirs(folder, exist_ok=True)
        times = [_ns(2024, 3, 1, h) + i * 7 * 60 * NS for i in range(n)]
        if null_time:
            times[3] = None
        path = os.path.join(folder, "part-0.parquet")
        pq.write_table(
            pa.table({"time": pa.array(times, pa.int64()), "v": list(range(n))}), path
        )
        return path

    for h in range(6):
        hour_file(h, null_time=h == 2)
    write_metadata(data)
    meta3 = os.path.join(data, "date=2024-03-01", "hour=03", "metadata.json")
    with open(meta3) as f:
        meta = json.load(f)
    for entry in meta["files"]:
        del entry["time_null_count"]
    with open(meta3, "w") as f:
        json.dump(meta, f)
    path4 = hour_file(4, n=9)
    st = os.stat(os.path.join(os.path.dirname(path4), "metadata.json"))
    os.utime(path4, ns=(st.st_atime_ns, st.st_mtime_ns))
    path5 = os.path.join(data, "date=2024-03-01", "hour=05", "part-0.parquet")
    st = os.stat(path5)
    os.utime(path5, ns=(st.st_atime_ns, st.st_mtime_ns + 10 * NS))


@pytest.fixture(scope="module")
def covered(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("covered"))
    _covered_lake(root)
    return QueryEngine(spark, root=root)


def _pushed_filters(df) -> str:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    # the plan string cuts long lists short with "..."
    return " ".join(re.findall(r"PushedFilters: \[(.*?)(?:\]|\.\.\.)", plan))


@pytest.mark.parametrize(
    "start, end, dropped",
    [
        ("00:00", "02:00", True),  # hour-aligned, every file proven
        ("02:00", "03:00", False),  # a NULL time row inside the hour
        ("00:30", "02:00", False),  # the range cuts hour 00
        ("03:00", "04:00", False),  # metadata without time_null_count
        ("04:00", "05:00", False),  # file size differs from its metadata
        ("05:00", "06:00", False),  # file newer than its metadata
    ],
    ids=["covered", "null_time", "cut_hour", "no_null_count", "size_changed", "newer_file"],
)
def test_covered_time_conjuncts_dropped(covered, start, end, dropped):
    """The ``time`` conjuncts reach Spark unless the catalog proves them
    true for every kept file; either way the rows equal DuckDB's over the
    table's full file list."""
    import duckdb

    from gigapi_querier_spark.plans.sqlpass import rewrite_time_literals

    sql = (
        "SELECT count(*) AS n, sum(v) AS s, min(time) AS lo, max(time) AS hi FROM c"
        f" WHERE time >= '2024-03-01T{start}:00Z' AND v >= 0"
        f" AND time < '2024-03-01T{end}:00Z'"
    )
    df = covered.query(sql, "mydb")
    assert covered.last_stats.time_conjuncts_dropped is dropped
    pushed = _pushed_filters(df)
    assert "IsNotNull(v)" in pushed and ("time" in pushed) is not dropped, pushed
    files = covered.catalog.find_files("mydb", "c", None)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW c AS SELECT * FROM read_parquet({files!r})")
    expect = con.execute(rewrite_time_literals(sql)).fetchall()
    assert [tuple(r) for r in df.collect()] == expect
    assert expect[0][0] > 0


def test_from_inside_a_function_call_is_not_the_target(engine):
    """``extract(hour FROM …)`` does not name the table: the query binds
    ``weather`` rather than reusing the view an earlier pruned query left."""
    engine.query_rows(
        "SELECT count(*) AS n FROM weather WHERE time >= '2024-01-02T00:00:00Z'"
        " AND time < '2024-01-03T00:00:00Z'",
        "mydb",
    )
    rows = engine.query_rows(
        "SELECT count(*) AS n, max(extract(hour FROM timestamp_micros(time DIV 1000)))"
        " AS h FROM weather",
        "mydb",
    )
    assert rows == [{"n": 84, "h": 12}]
    assert engine.last_stats.n_files == 8
    rows = engine.query_rows(
        "SELECT count(*) AS n FROM (SELECT * FROM weather WHERE location = 'east') s",
        "mydb",
    )
    assert rows == [{"n": 28}]


def test_line_comment_ends_at_its_newline(engine):
    rows = engine.query_rows(
        "SELECT count(*) AS n FROM weather -- all rows\nWHERE location = 'east'", "mydb"
    )
    assert rows == [{"n": 28}]
    rows = engine.query_rows(
        "SELECT '--  x' AS dash, count(*) AS n FROM weather -- note\n"
        "WHERE location <> '-- east'",
        "mydb",
    )
    assert rows == [{"dash": "--  x", "n": 84}]


@pytest.mark.parametrize(
    "sql, expect",
    [
        ('SELECT "strpos(" AS s', "strpos("),
        ("SELECT \"x SIMILAR TO 'a'\" AS s", "x SIMILAR TO 'a'"),
        ('SELECT "x USING SAMPLE 5%" AS s', "x USING SAMPLE 5%"),
        ('SELECT "lambda x: 1" AS s', "lambda x: 1"),
        (
            "SELECT \"read_parquet('/root/testdata/sf0.001/region.parquet')\" AS s",
            "read_parquet('/root/testdata/sf0.001/region.parquet')",
        ),
    ],
    ids=["strpos", "similar_to", "using_sample", "lambda", "read_parquet"],
)
def test_quoted_text_is_never_rewritten(engine, sql, expect):
    """A double-quoted string is a string literal in Spark's default mode;
    no dialect rewrite changes it."""
    assert engine.query_rows(sql, "mydb") == [{"s": expect}]


def test_unreadable_file_is_a_query_error(engine, tmp_path):
    with pytest.raises(QueryError, match="PATH_NOT_FOUND"):
        engine.query_rows(f"SELECT count(*) AS n FROM read_csv_auto('{tmp_path}/no.csv')")


def test_quoted_call_name_leaves_the_real_call_rewritten(engine):
    rows = engine.query_rows('SELECT "list_sum(" AS s, list_sum(array(1, 2)) AS t', "mydb")
    assert rows == [{"s": "list_sum(", "t": 3.0}]


def test_qualify_with_from_in_a_string(engine):
    rows = engine.query_rows(
        "SELECT ' FROM ' AS s, location FROM weather"
        " QUALIFY row_number() OVER (PARTITION BY location ORDER BY time) = 1",
        "mydb",
    )
    assert sorted(rows, key=lambda r: r["location"]) == [
        {"s": " FROM ", "location": loc} for loc in ("east", "north", "south")
    ]


def test_no_temp_view_left_behind(engine, spark):
    """A lake query, a DESCRIBE and a ``read_parquet`` query bind their
    views for the statement's analysis only."""

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    engine.query_rows(
        "SELECT count(*) AS n FROM weather WHERE time >= '2024-01-02T00:00:00Z'"
        " AND time < '2024-01-03T00:00:00Z'",
        "mydb",
    )
    assert "weather" not in views()
    engine.query_rows("DESCRIBE weather", "mydb")
    assert "weather" not in views()
    engine.query_rows(
        "SELECT count(*) AS n FROM read_parquet(['/root/testdata/sf0.001/region.parquet'])"
    )
    assert not any(v.startswith("__read_parquet") for v in views())


def test_unbound_table_does_not_resolve_to_an_earlier_view(engine):
    """``metrics`` is the statement's target, so ``weather`` is not bound;
    it must not resolve to the view a pruned query bound earlier."""
    rows = engine.query_rows(
        "SELECT count(*) AS n FROM weather WHERE time >= '2024-01-02T00:00:00Z'"
        " AND time < '2024-01-03T00:00:00Z'",
        "mydb",
    )
    assert rows == [{"n": 24}]
    with pytest.raises(QueryError, match="TABLE_OR_VIEW_NOT_FOUND"):
        engine.query_rows(
            "SELECT (SELECT count(*) FROM metrics) AS m, count(*) AS n FROM weather",
            "mydb",
        )


def test_concurrent_read_parquet_queries_keep_their_own_views(engine):
    """Each statement's ``read_parquet`` views are its own, even when two
    threads bind views of the same name."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    def count(table: str) -> int:
        return engine.query_rows(
            "SELECT count(*) AS n FROM"
            f" read_parquet(['/root/testdata/sf0.001/{table}.parquet'])"
        )[0]["n"]

    tables = ["region", "nation"] * 40
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(2) as ex:
            counts = list(ex.map(count, tables, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert counts == [{"region": 5, "nation": 25}[t] for t in tables]
