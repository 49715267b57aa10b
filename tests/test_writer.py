"""Round-trip: write a reference-layout table from the events fixture,
then query it through the engine with catalog pruning active."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gigapi_querier_spark.engine import QueryEngine
from gigapi_querier_spark.sources.writer import write_table


@pytest.fixture(scope="module")
def written_root(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("written_root"))
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("ts").alias("time"), "event_id", "user_id", "event_type", "value"
    )
    write_table(events, root, "mydb", "events", time_col="time")
    return root


def test_layout_shape(written_root):
    base = os.path.join(written_root, "mydb", "events", "data")
    dates = sorted(d for d in os.listdir(base) if d.startswith("date="))
    assert dates and all(len(d) == len("date=2024-01-01") for d in dates)
    hours = os.listdir(os.path.join(base, dates[0]))
    assert any(h.startswith("hour=") for h in hours)


def test_metadata_files_written(written_root):
    base = os.path.join(written_root, "mydb", "events", "data")
    metas = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(base)
        for f in fs
        if f == "metadata.json"
    ]
    assert metas
    meta = json.load(open(metas[0]))
    assert meta["row_count"] > 0
    assert meta["min_time"] is not None and meta["max_time"] >= meta["min_time"]
    assert all(e["path"].endswith(".parquet") for e in meta["files"])


def test_engine_roundtrip_with_pruning(spark, written_root, sf_dir):
    engine = QueryEngine(spark, root=written_root)
    all_rows = engine.query_rows("SELECT count(*) AS value FROM events")
    source_count = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert all_rows == [{"value": source_count}]

    # time-ranged query must prune to a subset of files
    engine.query_rows(
        "SELECT count(*) AS value FROM events"
        " WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z'"
    )
    pruned = engine.last_stats.n_files
    engine.query_rows("SELECT count(*) AS value FROM events")
    assert 0 < pruned < engine.last_stats.n_files


def test_roundtrip_values_match_direct(spark, written_root, sf_dir):
    engine = QueryEngine(spark, root=written_root)
    got = engine.query_rows(
        "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
    )
    exp = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["event_type"]: r["n"] for r in got} == exp


def _folder_meta(root: str) -> dict:
    """{hour folder: (min_time, max_time, row_count)} of a written table."""
    base = os.path.join(root, "mydb", "events", "data")
    out = {}
    for dp, _, fs in os.walk(base):
        if "metadata.json" in fs:
            m = json.load(open(os.path.join(dp, "metadata.json")))
            out[os.path.relpath(dp, base)] = (m["min_time"], m["max_time"], m["row_count"])
    return out


def test_timestamp_time_col_matches_int64_ns(spark, written_root, sf_dir, tmp_path):
    """written_root's time column is the fixture's timestamp[us]; the same
    rows given as int64 ns land in the same folders with the same
    metadata min_time/max_time."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["ts", "event_id", "user_id", "event_type", "value"],
    )
    ns = pc.multiply(src["ts"].cast(pa.int64()), 1000)
    pq.write_table(src.drop(["ts"]).append_column("time", ns), str(tmp_path / "ns.parquet"))
    ns_root = str(tmp_path / "ns_root")
    write_table(spark.read.parquet(str(tmp_path / "ns.parquet")), ns_root, "mydb", "events")
    got, want = _folder_meta(written_root), _folder_meta(ns_root)
    assert len(got) > 1 and got == want
    # the stored time column is int64 ns either way
    engine = QueryEngine(spark, root=written_root)
    assert engine.query_rows("SELECT min(time) AS t FROM events") == [
        {"t": pc.min(ns).as_py()}
    ]


def test_partition_layout_timezone_independent(spark, tmp_path):
    """ADVICE r1: date=/hour= must come from UTC epoch arithmetic, not the
    session timezone — otherwise pruning (which reads dir names as UTC)
    skips live files under a non-UTC session."""
    from pyspark.sql import functions as F

    from gigapi_querier_spark.sources.writer import write_table

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ns = 1_700_000_000 * 1_000_000_000  # 2023-11-14T22:13:20Z
        df = spark.createDataFrame([(ns, 1.0)], "time long, v double")
        root = str(tmp_path / "tzroot")
        write_table(df, root, "tzdb", "t")
        paths = [
            str(p.relative_to(tmp_path))
            for p in (tmp_path / "tzroot").rglob("*.parquet")
        ]
        assert any("date=2023-11-14/hour=22" in p for p in paths), paths
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_append_rewrites_only_the_folders_it_wrote(spark, tmp_path):
    """An append of one hour to a 48-folder table rewrites that folder's
    metadata.json and leaves the other 47 untouched (same inode and
    mtime). Every entry records its ``time_null_count``."""
    from tests.fixtures import NS, _ns

    root = str(tmp_path)

    def hours(first: int, n: int, rows: int = 3):
        return spark.createDataFrame(
            [
                (_ns(2024, 1, 1) + h * 3600 * NS + i * 60 * NS, h * 10 + i)
                for h in range(first, first + n)
                for i in range(rows)
            ],
            "time long, v long",
        )

    write_table(hours(0, 48), root, "mydb", "t")
    data = os.path.join(root, "mydb", "t", "data")
    metas = sorted(
        os.path.join(dp, "metadata.json") for dp, _, fs in os.walk(data) if "metadata.json" in fs
    )
    assert len(metas) == 48
    before = {m: (os.stat(m).st_ino, os.stat(m).st_mtime_ns) for m in metas}
    write_table(hours(5, 1), root, "mydb", "t")
    after = {m: (os.stat(m).st_ino, os.stat(m).st_mtime_ns) for m in metas}
    changed = [m for m in metas if after[m] != before[m]]
    appended = os.path.join(data, "date=2024-01-01", "hour=05", "metadata.json")
    assert changed == [appended]
    meta = json.load(open(appended))
    assert meta["row_count"] == 6
    for m in metas:
        assert {e["time_null_count"] for e in json.load(open(m))["files"]} == {0}
