"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully executed and its complete result materialized on the
driver as an Arrow table (``df.toArrow()``), so the number covers scan →
shuffle → result transfer. Arrow is the reference's own result edge — its
FlightSQL endpoint streams Arrow record batches (flightsql.go DoGet) — and
the symmetric DuckDB baseline (tools/baseline_duckdb.py) materializes via
``.arrow()`` under the same warmup + min-of-3 protocol.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline set: one per operator family (scan/agg, join, star join, window,
#: time bucket, as-of, json, explode, minhash dedup, exact-pair dedup, ANN,
#: text pipeline).
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_rank_topn",
    "ts_bucket_5m",
    "ts_sessionize",
    "asof_purchase_click",
    "json_extract_agg",
    "explode_words",
    "dedup_minhash_lsh_pairs",
    "dedup_jaccard_pairs",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "embedding_neardup_pairs",
    "text_quality_scores",
)


def main() -> None:
    import __spark_entry__ as entry_mod
    from gigapi_querier_spark.session import get_spark

    spark = get_spark(app_name="gigapi-bench")
    qs = entry_mod.queries()

    # Steady-state protocol: one untimed warmup pass compiles every plan
    # shape (Catalyst analysis + whole-stage codegen JIT + Python worker
    # pool spin-up) — the state a long-running query service is always in.
    # All data caches are then CLEARED so measured queries still pay full
    # scan/shuffle/compute cost on cold data.
    for name in HEADLINE:
        qs[name](spark, SF_DIR).toArrow()
    spark.catalog.clearCache()

    # Three measured passes, per-query MIN: the host is time-shared and
    # single-pass numbers swing ±3×; the min of cold-data passes is the
    # engine's actual cost. Caches are cleared before every measurement.
    # (The DuckDB baseline runs the identical warmup + min-of-3 protocol.)
    timings: dict[str, float] = {}
    for _ in range(3):
        for name in HEADLINE:
            t0 = time.perf_counter()
            rows = qs[name](spark, SF_DIR).toArrow()
            elapsed = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)
            del rows
            spark.catalog.clearCache()  # operators may persist() intermediates

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
