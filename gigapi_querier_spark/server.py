"""HTTP API (reference querier/server.go):

- POST /query  — body {"query": ..., "db"?: ...}; query params ``db`` and
  ``format`` (json | ndjson); db resolution order: ?db= → body db →
  "mydb" (server.go:183-189).
- GET /health  — {"status": "ok", "timestamp": RFC3339} (server.go:215-230).
- errors       — HTTP 400 + {"error": msg} (server.go:194, :206-212).
- CORS         — permissive headers + OPTIONS preflight (server.go:146-157).

stdlib ThreadingHTTPServer: the Spark driver is the natural home of the
query frontend (one SparkSession shared across requests, like the
reference's single DuckDB handle). JSON is fetched with one parallel
Arrow collect (``QueryEngine.query_rows``), as the reference materializes
a result once per request (queryClient.go:886-920). NDJSON streams
partition by partition from ``toLocalIterator``, prefetching the next
partition while one is encoded, and writes one HTTP chunk per
``CHUNK_ROWS`` rows — results never fully materialize in driver memory.
Both edges encode column by column (``formats.encode_rows``). A failure
after the NDJSON status line went out closes the connection with the
chunked body unterminated, so the client sees a truncated response, never
a complete one.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from itertools import islice
from urllib.parse import parse_qs, urlparse

from pyspark.sql.types import ArrayType, DataType, MapType, StructType, TimestampType

from gigapi_querier_spark.engine import QueryEngine, QueryError
# transform_value is not called here; it stays a module attribute because
# the lake benchmark's traced pass (lakebench/spans.py) wraps it
from gigapi_querier_spark.formats import encode_rows, json_format, transform_value  # noqa: F401

_CORS = {
    "Access-Control-Allow-Origin": "*",
    "Access-Control-Allow-Methods": "POST, GET, OPTIONS",
    "Access-Control-Allow-Headers": "Content-Type",
}

#: NDJSON rows per HTTP chunk: the handler holds at most this many rows.
CHUNK_ROWS = 1024


class _HeadersAlreadySent(Exception):
    """A streaming response failed after the status line went out; the
    connection must be closed, never re-responded."""


def _to_utc(t: DataType):
    """The function that makes every ``TimestampType`` value inside a row
    value of type ``t`` UTC-aware (rows carry them as naive local time), or
    None when ``t`` holds none. Structs come back as dicts, which
    ``transform_value`` encodes as it encodes a ``Row``."""
    if isinstance(t, TimestampType):
        f = lambda v: v.astimezone(timezone.utc)
    elif isinstance(t, ArrayType):
        g = _to_utc(t.elementType)
        if g is None:
            return None
        f = lambda v: [g(x) for x in v]
    elif isinstance(t, MapType):
        gk, gv = _to_utc(t.keyType), _to_utc(t.valueType)
        if gk is None and gv is None:
            return None
        f = lambda v: {gk(k) if gk else k: gv(x) if gv else x for k, x in v.items()}
    elif isinstance(t, StructType):
        gs = [_to_utc(fld.dataType) for fld in t.fields]
        if not any(gs):
            return None
        f = lambda v: {n: g(x) if g else x for n, g, x in zip(t.names, gs, v)}
    else:
        return None
    return lambda v: None if v is None else f(v)


def make_handler(engine: QueryEngine):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, fmt, *args):  # quiet
            pass

        def _send(self, code: int, body: bytes, ctype: str = "application/json"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            for k, v in _CORS.items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def _error(self, msg: str, code: int = 400):
            self._send(code, json.dumps({"error": msg}).encode())

        def do_OPTIONS(self):
            self._send(204, b"")

        def do_GET(self):
            url = urlparse(self.path)
            if url.path in ("", "/") and not os.environ.get("GIGAPI_DISABLE_UI"):
                # built-in query UI (reference server.go:233-269 serves an
                # embedded SPA at /, gated by DisableUI)
                from gigapi_querier_spark.ui import INDEX_HTML

                self._send(200, INDEX_HTML.encode(), "text/html; charset=utf-8")
                return
            if url.path == "/health":
                body = json.dumps(
                    {
                        "status": "ok",
                        "timestamp": datetime.now(timezone.utc).strftime(
                            "%Y-%m-%dT%H:%M:%SZ"
                        ),
                    }
                ).encode()
                self._send(200, body)
                return
            self._error("not found", 404)

        def do_POST(self):
            # Read the body before any check can answer: a body left unread
            # would be parsed as the next request on this connection.
            try:
                length = int(self.headers.get("Content-Length", 0))
            except ValueError:
                length = -1
            if length < 0:
                # the body's end is unknown: never read this connection again
                self.close_connection = True
                self._error("invalid Content-Length")
                return
            body = self.rfile.read(length)
            url = urlparse(self.path)
            if url.path != "/query":
                self._error("not found", 404)
                return
            qs = parse_qs(url.query)
            fmt = qs.get("format", ["json"])[0]
            if fmt not in ("json", "ndjson"):
                self._error(f"unknown format: {fmt}")
                return
            try:
                payload = json.loads(body or b"{}")
            except ValueError:  # JSONDecodeError, or bytes that are not UTF-8/16/32
                self._error("invalid JSON body")
                return
            if not isinstance(payload, dict):
                self._error("JSON body must be an object")
                return
            sql, body_db = payload.get("query", ""), payload.get("db")
            if not isinstance(sql, str) or not isinstance(body_db, (str, type(None))):
                self._error("query and db must be strings")
                return
            if not sql:
                self._error("missing query")
                return
            db = qs.get("db", [None])[0] or body_db or engine.DEFAULT_DB
            try:
                if fmt == "ndjson":
                    self._stream_ndjson(sql, db)
                else:
                    rows = engine.query_rows(sql, db)
                    self._send(200, json_format(rows).encode())
            except _HeadersAlreadySent:
                # mid-stream ndjson failure: headers (200 + chunked) are on
                # the wire — a second send_response would corrupt the
                # framing. Close with the chunked body unterminated.
                self.close_connection = True
            except QueryError as e:
                self._error(str(e))
            except Exception as e:  # engine bug: still the error shape
                self._error(str(e), 500)

        def _stream_ndjson(self, sql: str, db: str):
            # Everything that can fail BEFORE headers (parse, prune, bind,
            # first-partition execution) runs here so errors still produce
            # a clean 400/500 response.
            df = engine.query(sql, db)
            names = df.columns
            count_idx = [i for i, c in enumerate(names) if "count" in c]
            # Rows carry TimestampType as naive local time, at any depth:
            # make it UTC.
            utc = [
                (i, f)
                for i, f in enumerate(_to_utc(fld.dataType) for fld in df.schema.fields)
                if f is not None
            ]
            it = df.toLocalIterator(True)  # prefetch the next partition
            self.send_response(200)
            self.send_header("Content-Type", "application/x-ndjson")
            for k, v in _CORS.items():
                self.send_header(k, v)
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            try:
                while chunk := list(islice(it, CHUNK_ROWS)):
                    cols = list(zip(*chunk))
                    for i in count_idx:
                        cols[i] = [0 if v is None else v for v in cols[i]]
                    for i, f in utc:
                        cols[i] = list(map(f, cols[i]))
                    self._write_chunk(encode_rows(names, cols, len(chunk)))
            except Exception as e:
                # no terminating chunk: the body must not read as complete
                raise _HeadersAlreadySent(str(e)) from e
            self.wfile.write(b"0\r\n\r\n")

        def _write_chunk(self, lines: list[str]):
            data = ("\n".join(lines) + "\n").encode()
            self.wfile.write(b"%x\r\n%s\r\n" % (len(data), data))

    return Handler


def serve(engine: QueryEngine, host: str = "0.0.0.0", port: int = 8080):
    httpd = ThreadingHTTPServer((host, port), make_handler(engine))
    return httpd  # caller runs serve_forever() (tests run it in a thread)
