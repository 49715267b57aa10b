"""Query planning pre-pass: light SQL inspection (table + time bounds,
with timestamp literals folded to ns in one place) and DuckDB→Spark
dialect shims, ``epoch_*``/``time_bucket_ns`` included. The original SQL
itself is executed by Spark SQL against a bound temp view — no string
surgery on the query body (deliberate divergence from the reference's
FROM-clause splicing, querier/queryClient.go:838-861, which breaks on
self-references/aliases).
"""

from gigapi_querier_spark.plans.sqlpass import (
    ParsedQuery,
    TimeRange,
    extract_time_range,
    parse_query,
    to_spark_sql,
)

__all__ = [
    "ParsedQuery",
    "TimeRange",
    "extract_time_range",
    "parse_query",
    "to_spark_sql",
]
