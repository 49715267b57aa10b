"""CLI entry points (reference main.go):

- one-shot:  python -m gigapi_querier_spark --query "SELECT 1" [--db mydb]
             → indented JSON on stdout (main.go:43-57)
- server:    python -m gigapi_querier_spark serve [--port 8080]
             [--flight-port 8082] [--root /data]
             → HTTP /query + /health (+ Arrow Flight when requested)
"""

from __future__ import annotations

import argparse
import json
import sys

from gigapi_querier_spark.engine import QueryEngine, QueryError
from gigapi_querier_spark.formats import transform_rows
from gigapi_querier_spark.module import init
from gigapi_querier_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="gigapi-querier-spark")
    parser.add_argument("command", nargs="?", default="query", choices=["query", "serve"])
    parser.add_argument("--query", help="SQL to execute (one-shot mode)")
    parser.add_argument("--db", default="default", help="database name (main.go:23)")
    parser.add_argument("--root", default=None, help="data root (GIGAPI_ROOT)")
    parser.add_argument("--host", default="0.0.0.0")
    parser.add_argument("--port", type=int, default=8080)
    parser.add_argument("--flight-port", type=int, default=0, help="0 = no Flight")
    args = parser.parse_args(argv)

    spark = get_spark(app_name="gigapi-querier-spark")
    if args.command == "query" or args.query:
        if not args.query:
            parser.error("--query is required in one-shot mode")
        try:
            rows = QueryEngine(spark, root=args.root).query_rows(args.query, args.db)
        except QueryError as e:
            print(json.dumps({"error": str(e)}), file=sys.stderr)
            return 1
        print(json.dumps(transform_rows(rows), indent=2))
        return 0

    mod = init(
        args.root,
        spark=spark,
        http_port=args.port,
        flight_port=args.flight_port or None,
        host=args.host,
    )
    print(f"listening on {args.host}:{args.port}", file=sys.stderr)
    try:
        mod.wait()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
