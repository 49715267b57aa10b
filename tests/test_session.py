"""The session's execution profile is written once (session.SQL_CONF):
``get_spark`` builds with it, ``__spark_entry__._ensure_session_conf``
re-applies it to a session built elsewhere, and fixture loading never
switches it."""

from __future__ import annotations

from gigapi_querier_spark.session import SQL_CONF
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
