"""Catalog pruning tests over the reference-shaped weather fixture."""

from __future__ import annotations

import os

import pytest

from gigapi_querier_spark.plans.sqlpass import TimeRange
from gigapi_querier_spark.sources.catalog import Catalog
from tests.fixtures import NS, _ns, _write_file, build_weather_root


@pytest.fixture(scope="module")
def root(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gigapi_root"))
    manifest = build_weather_root(path)
    return path, manifest


def test_full_scan_discovers_all_and_skips_tmp(root):
    path, manifest = root
    files = Catalog(path).find_files("mydb", "weather")
    assert len(files) == len(manifest["files"])
    assert not any("/data/tmp/" in f for f in files)
    # stale metadata entry (gone.parquet) not included
    assert not any(f.endswith("gone.parquet") for f in files)


def test_staging_dirs_skipped_below_table_root_only(tmp_path):
    """An in-flight Spark write stages parquet under data/_temporary/…;
    it is neither discovered nor indexed. The rule applies only below the
    table root: a table whose own name starts with '_' is still served."""
    from gigapi_querier_spark.sources.writer import write_metadata

    root = str(tmp_path)
    part = "date=2024-01-01/hour=00"
    for table in ("events", "_events"):
        data = os.path.join(root, "mydb", table, "data")
        committed = os.path.join(data, part, "part-0.parquet")
        _write_file(committed, [_ns(2024, 1, 1)])
        _write_file(
            os.path.join(data, "_temporary", "0", part, "part-1.parquet"),
            [_ns(2024, 1, 1)],
        )
        assert Catalog(root).find_files("mydb", table) == [committed]
        write_metadata(data)
        metas = [dp for dp, _, fs in os.walk(data) if "metadata.json" in fs]
        assert metas == [os.path.dirname(committed)]
        assert Catalog(root).find_files("mydb", table) == [committed]


def test_date_hour_pruning(root):
    path, _ = root
    tr = TimeRange(start=_ns(2024, 1, 2), end=_ns(2024, 1, 2, 23, 59, 59))
    files = Catalog(path).find_files("mydb", "weather", tr)
    assert files, "day filter should keep 2024-01-02 files"
    assert all("date=2024-01-02" in f for f in files)

    tr = TimeRange(start=_ns(2024, 1, 2, 6), end=_ns(2024, 1, 2, 6, 59, 59))
    files = Catalog(path).find_files("mydb", "weather", tr)
    assert files and all("hour=06" in f for f in files)


def test_one_sided_pruning(root):
    path, _ = root
    tr = TimeRange(start=_ns(2024, 1, 3))
    files = Catalog(path).find_files("mydb", "weather", tr)
    assert files and all("date=2024-01-03" in f for f in files)

    tr = TimeRange(end=_ns(2024, 1, 1, 23, 59, 59))
    files = Catalog(path).find_files("mydb", "weather", tr)
    assert files and all("date=2024-01-01" in f for f in files)


def test_metadata_file_pruning(root):
    path, _ = root
    # range inside hour=00 of Jan 1 — metadata folder keeps its file
    tr = TimeRange(start=_ns(2024, 1, 1, 0, 10), end=_ns(2024, 1, 1, 0, 20))
    files = Catalog(path).find_files("mydb", "weather", tr)
    assert any("hour=00" in f and "date=2024-01-01" in f for f in files)
    # disjoint range → the metadata folder contributes nothing
    tr = TimeRange(start=_ns(2025, 6, 1), end=_ns(2025, 6, 2))
    assert Catalog(path).find_files("mydb", "weather", tr) == []


def test_show_namespaces(root):
    path, _ = root
    cat = Catalog(path)
    assert cat.databases() == ["mydb", "otherdb"]
    assert cat.tables("mydb") == ["metrics", "weather"]
    assert cat.tables("missing") == []


def test_json_index_wraps_catalog(root, monkeypatch):
    """The json metadata index is the filesystem catalog itself."""
    from gigapi_querier_spark.sources.index import index_from_env

    path, manifest = root
    monkeypatch.setenv("GIGAPI_METADATA_TYPE", "json")
    idx = index_from_env(path)
    assert isinstance(idx, Catalog)
    assert idx.databases() == ["mydb", "otherdb"]
    assert len(idx.find_files("mydb", "weather")) == len(manifest["files"])


def test_redis_index_gated(monkeypatch):
    from gigapi_querier_spark.sources.index import index_from_env

    monkeypatch.setenv("GIGAPI_METADATA_TYPE", "redis")
    monkeypatch.setenv("GIGAPI_METADATA_URL", "redis://localhost:6379/0")
    try:
        import redis  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="redis"):
            index_from_env("/nonexistent")


def test_unknown_index_kind(monkeypatch):
    """An unknown GIGAPI_METADATA_TYPE fails loudly instead of silently
    serving the filesystem index."""
    from gigapi_querier_spark.sources.index import index_from_env

    monkeypatch.setenv("GIGAPI_METADATA_TYPE", "zookeeper")
    with pytest.raises(ValueError, match="zookeeper"):
        index_from_env("/nonexistent")


def _hourly_folders(root: str, n: int) -> str:
    """``mydb.hourly``: ``n`` hour folders of one parquet file each, no
    metadata.json yet; returns the table's data dir."""
    data = os.path.join(root, "mydb", "hourly", "data")
    for h in range(n):
        folder = os.path.join(data, f"date=2024-01-{1 + h // 24:02d}", f"hour={h % 24:02d}")
        _write_file(os.path.join(folder, "part-0.parquet"), [_ns(2024, 1, 1 + h // 24, h % 24)])
    return data


def test_unreadable_metadata_lists_the_folder(tmp_path):
    """A metadata.json that is not a JSON object does not make its folder
    look empty: the folder's parquet files are listed instead."""
    root = str(tmp_path)
    data = _hourly_folders(root, 2)
    folders = sorted(dp for dp, _, fs in os.walk(data) if "part-0.parquet" in fs)
    for folder, body in zip(folders, ("{not json", "[]")):
        with open(os.path.join(folder, "metadata.json"), "w") as f:
            f.write(body)
    expect = [os.path.join(f, "part-0.parquet") for f in folders]
    assert Catalog(root).find_files("mydb", "hourly") == expect


def test_metadata_rewrite_never_hides_files(tmp_path):
    """A reader racing write_metadata sees every file on every read: the
    writer replaces metadata.json atomically, so no read finds it partial."""
    import sys
    import threading
    import time

    from gigapi_querier_spark.sources.writer import write_metadata

    root = str(tmp_path)
    n = 48
    data = _hourly_folders(root, n)
    write_metadata(data)
    stop = threading.Event()
    rewrites = []

    def rewrite():
        while not stop.is_set():
            rewrites.append(write_metadata(data))

    writer = threading.Thread(target=rewrite)
    counts = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    writer.start()
    try:
        deadline = time.monotonic() + 2.0
        while time.monotonic() < deadline:
            counts.append(len(Catalog(root).find_files("mydb", "hourly")))
    finally:
        stop.set()
        writer.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not writer.is_alive()
    assert rewrites and set(rewrites) == {n}  # the writer ran without error
    assert counts and [c for c in counts if c != n] == []
    leftovers = [f for _, _, fs in os.walk(data) for f in fs if f.startswith(".metadata")]
    assert leftovers == []


def test_metadata_parsed_once_per_version(tmp_path, monkeypatch):
    """A catalog parses each metadata.json once; a replaced file misses,
    and a shared catalog racing the writer still lists every file."""
    import json
    import sys
    import threading
    import time

    from gigapi_querier_spark.sources import catalog as catalog_mod
    from gigapi_querier_spark.sources.writer import write_metadata

    root = str(tmp_path)
    n = 48
    data = _hourly_folders(root, n)
    write_metadata(data)
    loads = []
    real_load = json.load

    def counting_load(f):
        loads.append(f.name)
        return real_load(f)

    monkeypatch.setattr(catalog_mod.json, "load", counting_load, raising=True)
    cat = Catalog(root)
    assert len(cat.find_files("mydb", "hourly")) == n
    assert len(loads) == n
    assert len(cat.find_files("mydb", "hourly")) == n
    assert len(loads) == n  # every folder a cache hit

    folder = os.path.join(data, "date=2024-01-01", "hour=05")
    with open(os.path.join(folder, "metadata.json")) as f:
        meta = real_load(f)
    meta["files"] = []
    tmp = os.path.join(folder, ".metadata.new.json")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(folder, "metadata.json"))
    assert len(cat.find_files("mydb", "hourly")) == n - 1
    assert loads[n:] == [os.path.join(folder, "metadata.json")]

    monkeypatch.undo()
    write_metadata(data)
    assert len(cat.find_files("mydb", "hourly")) == n
    stop = threading.Event()

    def rewrite():
        while not stop.is_set():
            write_metadata(data)

    writer = threading.Thread(target=rewrite)
    counts = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    writer.start()
    try:
        deadline = time.monotonic() + 1.0
        while time.monotonic() < deadline:
            counts.append(len(cat.find_files("mydb", "hourly")))
    finally:
        stop.set()
        writer.join(timeout=60)
        sys.setswitchinterval(interval)
    assert counts and [c for c in counts if c != n] == []
