"""The session's execution profile is written once (session.SQL_CONF):
``get_spark`` builds with it, ``__spark_entry__._ensure_session_conf``
re-applies it to a session built elsewhere, and fixture loading never
switches it. ``session.time_ns`` reads every time unit as int64 ns."""

from __future__ import annotations

from gigapi_querier_spark.session import SQL_CONF, time_ns
from gigapi_querier_spark.sources.tables import load_tables


def _snapshot(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in SQL_CONF}


def _restore(spark, saved: dict[str, str | None]) -> None:
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_load_tables_leaves_conf_unchanged(spark, sf_dir):
    before = _snapshot(spark)
    load_tables(spark, sf_dir)
    assert _snapshot(spark) == before


def test_ensure_session_conf_reapplies_profile(spark):
    import __spark_entry__ as e

    changed = {
        k: {"true": "false", "false": "true"}.get(v, "1")
        for k, v in SQL_CONF.items()
    }
    changed["spark.sql.session.timeZone"] = "America/New_York"
    changed["spark.sql.optimizer.excludedRules"] = (
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    )
    saved = _snapshot(spark)
    try:
        for k, v in changed.items():
            spark.conf.set(k, v)
        assert all(spark.conf.get(k) != v for k, v in SQL_CONF.items())
        e._ensure_session_conf(spark)
        assert _snapshot(spark) == SQL_CONF
    finally:
        _restore(spark, saved)


def test_time_ns_ignores_session_time_zone(spark, tmp_path):
    """int64 ns passes through; TIMESTAMP and TIMESTAMP_NTZ columns read
    as the same epoch ns under a UTC and a non-UTC session time zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [0, 1_704_067_199_999_999_000, 1_710_054_000_123_456_000]
    us = pa.array([t // 1000 for t in ns], pa.int64())
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table(
            {
                "ns": pa.array(ns, pa.int64()),
                "ltz": us.cast(pa.timestamp("us", tz="UTC")),
                "ntz": us.cast(pa.timestamp("us")),
            }
        ),
        path,
    )
    df = spark.read.parquet(path)
    assert [f.dataType.typeName() for f in df.schema] == [
        "long", "timestamp", "timestamp_ntz",
    ]
    cols = [time_ns(df, c).alias(c) for c in df.columns]
    saved = _snapshot(spark)
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = [tuple(r) for r in df.select(*cols).orderBy("ns").collect()]
            assert got == [(t, t, t) for t in ns], tz
    finally:
        _restore(spark, saved)
