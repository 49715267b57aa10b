"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "queries_min": {...}, "queries_max": {...},
"passes": n, "sf": ...}. A query's figure is its median over ``PASSES``
interleaved passes (every pass runs each query once, in turn); ``value``
is the sum of the medians.

Each query is fully executed and its complete result materialized on the
driver as an Arrow table (``df.toArrow()``), so the number covers scan →
shuffle → result transfer. Arrow is the reference's own result edge — its
FlightSQL endpoint streams Arrow record batches (flightsql.go DoGet) — and
the symmetric DuckDB baseline (tools/baseline_duckdb.py) materializes via
``.arrow()`` under the same warmup + median-of-``PASSES`` protocol.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Measured passes per query; the figure is their median.
PASSES = 5

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

    # PASSES interleaved passes, per-query median with min and max: the
    # host is time-shared and single passes swing widely, so one figure is
    # not evidence; the spread shows how far to trust the median. Caches
    # are cleared before every measurement. (The DuckDB baseline runs the
    # identical warmup + median protocol.)
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(PASSES):
        for name in HEADLINE:
            t0 = time.perf_counter()
            rows = qs[name](spark, SF_DIR).toArrow()
            samples[name].append(time.perf_counter() - t0)
            del rows
            spark.catalog.clearCache()  # operators may persist() intermediates

    timings = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "queries_min": {n: round(min(s), 3) for n, s in samples.items()},
                "queries_max": {n: round(max(s), 3) for n, s in samples.items()},
                "passes": PASSES,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
