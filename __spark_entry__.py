"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1-shaped pricing summary)
on sf0.001; ``queries()`` exposes the full operator inventory
(gigapi_querier_spark/inventory/); ``oracle_sql()`` the matching DuckDB
SQL for the differential correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

# The driver may import this file by path; make the sibling package
# importable regardless of how we were loaded.
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from gigapi_querier_spark import inventory  # noqa: E402
from gigapi_querier_spark.session import SQL_CONF  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_session_conf(spark)
    from gigapi_querier_spark.inventory.relational import q1_pricing_summary

    return q1_pricing_summary(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    fns = inventory.all_queries()
    return {name: _with_conf(fn) for name, fn in fns.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() entry."""
    return inventory.all_oracles()


def _with_conf(fn: Callable[[SparkSession, str], DataFrame]):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_session_conf(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def _ensure_session_conf(spark: SparkSession) -> None:
    """A caller may hand us a session built without our bootstrap; apply
    the same runtime SQL conf ``get_spark`` builds with (UTC, int64-ns time
    model, AQE and scan shape)."""
    for k, v in SQL_CONF.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            # a session that refuses a key (CANNOT_MODIFY_*CONFIG) keeps its
            # own value; every key here is runtime-settable on plain Spark
            pass
