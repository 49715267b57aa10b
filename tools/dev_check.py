"""Local differential harness — approximates the driver's correctness gate.

Runs every queries() entry through Spark AND its oracle_sql() through
DuckDB over the same parquet tables, then compares row count, schema
(column names), and an order-insensitive value hash.

Usage:
    python tools/dev_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()[:12]
    return len(rows), sorted(cols), h


def main() -> int:
    import __spark_entry__ as entry_mod
    from gigapi_querier_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc(limit=3)
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.execute(oracles[name])
            d_cols = [d[0] for d in rel.description]
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: DUCKDB ERROR {e}")
            failures += 1
            continue
        sn, sc, sh = canon_rows(s_cols, s_rows)
        dn, dc, dh = canon_rows(d_cols, d_rows)
        status = "OK  " if (sn, sc, sh) == (dn, dc, dh) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(f"{status} {name}: spark(n={sn}, cols={sc}, h={sh})")
            print(f"     {' ' * len(name)}  duck (n={dn}, cols={dc}, h={dh})")
            if sn == dn and sc == dc and sn > 0:
                # show first differing row pair for debugging
                order_s = sorted(range(len(sc)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(dc)), key=lambda i: d_cols[i])
                ls = sorted("|".join(canon_value(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("|".join(canon_value(r[i]) for i in order_d) for r in d_rows)
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"     spark: {a}\n     duck : {b}")
                        break
        else:
            print(f"{status} {name}: {sn} rows h={sh} ({time.time()-t0:.1f}s)")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
