"""DuckDB single-node baseline for the headline queries — the reference's
engine of record is embedded DuckDB (README.md:60), so this is the number
BENCH is graded against ("within 2× of baseline at the same scale factor").

Same protocol as bench.py: an untimed warmup, then ``bench.PASSES``
measured passes taking the per-query median; results materialize as Arrow
tables (the reference's FlightSQL result edge) on both engines.

Each query runs in its own subprocess. With ``--timeout SEC`` a query whose
warmup plus passes exceed ``SEC`` per run is recorded as ``null`` with a
``timeouts`` entry — for large SFs, where some oracle formulations
(exploded self-joins, quadratic block compares) run for hours. The total
then covers completed queries only, so it UNDERSTATES DuckDB's true total
(the honest direction for a crossover claim in Spark's favor). A failed
child, or one whose stdout holds no result, is recorded as ``null`` too.

Usage: python tools/baseline_duckdb.py [sf_dir] [--timeout SEC]
(sf_dir defaults to bench.py's, $SPARK_GRAFT_SF_DIR.)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, PASSES, SF_DIR

_CHILD = r"""
import json, statistics, sys, time
import duckdb
sf_dir, sql, passes = sys.argv[1], sys.argv[2], int(sys.argv[3])
con = duckdb.connect()
con.execute("SET enable_progress_bar = false")  # it writes to stdout
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
con.execute(sql).arrow()  # warmup
runs = []
for _ in range(passes):
    t0 = time.perf_counter()
    con.execute(sql).arrow()
    runs.append(time.perf_counter() - t0)
print(json.dumps({"sec": round(statistics.median(runs), 3)}))
"""


def _result_sec(stdout: str) -> float | None:
    """The child's ``{"sec": …}`` line, or None when stdout holds none."""
    for line in reversed(stdout.splitlines()):
        try:
            return float(json.loads(line)["sec"])
        except (ValueError, KeyError, TypeError):
            continue
    return None


def main() -> None:
    import __spark_entry__ as e

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default=SF_DIR)
    ap.add_argument("--timeout", type=float, default=None, metavar="SEC")
    args = ap.parse_args()

    oracles = e.oracle_sql()
    timings: dict[str, float | None] = {}
    timeouts: list[str] = []
    for name in HEADLINE:
        sql = oracles.get(name)
        if sql is None:
            continue
        timings[name] = None
        try:
            out = subprocess.run(
                [sys.executable, "-c", _CHILD, args.sf_dir, sql, str(PASSES)],
                capture_output=True,
                text=True,
                # the cap is per run: warmup + every pass must fit
                timeout=None if args.timeout is None else args.timeout * (PASSES + 1),
            )
        except subprocess.TimeoutExpired:
            timeouts.append(name)
        else:
            timings[name] = _result_sec(out.stdout) if out.returncode == 0 else None
            if timings[name] is None:
                print(f"# {name}: FAILED {out.stderr[-200:]}", file=sys.stderr)
        print(f"# {name}: {timings[name]}", file=sys.stderr)
    done = [v for v in timings.values() if v is not None]
    print(
        json.dumps(
            {
                "metric": "duckdb_baseline_total_wall",
                "value": round(sum(done), 3),
                "unit": "sec",
                "queries": timings,
                "timeouts": timeouts,
                "cap_sec": args.timeout,
                "sf_dir": args.sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
