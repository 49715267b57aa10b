"""gigapi_querier_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of gigapi/gigapi-querier.

The reference (gigapi/gigapi-querier, Go + embedded DuckDB) is a thin
catalog/pruning/rewrite/serving layer over Parquet files; its relational
surface is the embedded engine's SQL dialect (see SURVEY.md). This package
re-expresses that architecture Spark-first:

- ``sources``   — path-convention catalog (the json metadata index; Redis
                  is the other backend), metadata.json time-range pruning,
                  hive date=/hour= awareness
                  (reference: querier/queryClient.go:340-710).
- ``plans``     — light SQL pre-pass: table + time-bound extraction and
                  dialect shims (``epoch_ns`` / ``time_bucket_ns`` become
                  inline expressions); the *original* SQL then runs through
                  ``spark.sql`` against a bound temp view
                  (reference: querier/queryClient.go:87-337, :838-861).
- ``session``   — SparkSession + conf; the int64-ns time model: ``time_ns``
                  (any stored unit → ns).
- ``operators`` — Spark-native extensions: dedup (exact/minhash/simhash/
                  jaccard), similarity search, text analysis, multimodal
                  column plumbing, as-of join, sessionization.
- ``engine``    — the QueryClient equivalent: Query(sql, db) -> DataFrame.
- ``formats``   — JSON / NDJSON encoders, column by column (int64-as-string,
                  RFC3339Nano; reference: querier/formatJson.go).
- ``server``    — HTTP POST /query + /health (reference: querier/server.go).
- ``flightsql`` — Arrow Flight server (reference: querier/flightsql.go).
"""

__version__ = "0.1.0"
