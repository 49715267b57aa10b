"""Loopback clients for the program's result edges and cheap response
fingerprints.

Every call returns a ``Reply`` with its send, first-byte and last-byte
times. First byte is the first body byte over HTTP (for json that is
after the whole result is encoded; for ndjson it is the first row) and
the first record batch over Flight.
"""

from __future__ import annotations

import http.client
import json
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.flight as flight

import check
from lake import DB

#: Responses up to this size are fully decoded and compared on every call;
#: larger ones are compared by size (json/ndjson byte length does not
#: depend on row order) or by row count and time sum (Flight).
FULL_CHECK_BYTES = 1 << 20


@dataclass
class Reply:
    ok: bool
    t_send: float
    t_first: float
    t_end: float
    body: bytes = b""  # json / ndjson
    table: pa.Table | None = None  # flight
    error: str = ""

    @property
    def nbytes(self) -> int:
        return len(self.body) if self.table is None else self.table.nbytes


class HttpEdge:
    """One keep-alive HTTP/1.1 connection to ``server.serve``."""

    def __init__(self, port: int):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def call(self, sql: str, fmt: str) -> Reply:
        t0 = time.perf_counter()
        try:
            self.conn.request(
                "POST",
                f"/query?format={fmt}&db={DB}",
                body=json.dumps({"query": sql}).encode(),
                headers={"Content-Type": "application/json"},
            )
            resp = self.conn.getresponse()
            first = resp.read(1)
            t1 = time.perf_counter()
            body = first + resp.read()
            t2 = time.perf_counter()
        except (OSError, http.client.HTTPException) as e:
            self.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
            t = time.perf_counter()
            return Reply(False, t0, t, t, error=repr(e))
        if resp.status != 200:
            return Reply(False, t0, t1, t2, body, error=body[:300].decode("utf-8", "replace"))
        return Reply(True, t0, t1, t2, body)

    def close(self) -> None:
        self.conn.close()


class FlightEdge:
    """GetFlightInfo → DoGet against ``flightsql.GigapiFlightServer``."""

    def __init__(self, port: int):
        self.client = flight.connect(f"grpc://127.0.0.1:{port}")

    def info(self, sql: str) -> flight.FlightInfo:
        return self.client.get_flight_info(flight.FlightDescriptor.for_command(sql.encode()))

    def fetch(self, info: flight.FlightInfo) -> tuple[float, pa.Table]:
        reader = self.client.do_get(info.endpoints[0].ticket)
        batches, t_first = [], None
        for chunk in reader:
            if t_first is None:
                t_first = time.perf_counter()
            batches.append(chunk.data)
        table = pa.Table.from_batches(batches, schema=reader.schema)
        return t_first or time.perf_counter(), table

    def call(self, sql: str) -> Reply:
        t0 = time.perf_counter()
        try:
            t_first, table = self.fetch(self.info(sql))
        except (flight.FlightError, pa.ArrowException, OSError) as e:
            t = time.perf_counter()
            return Reply(False, t0, t, t, error=repr(e))
        return Reply(True, t0, t_first, time.perf_counter(), table=table)

    def close(self) -> None:
        self.client.close()


def decode(edge: str, reply: Reply) -> list[dict]:
    if edge == "json":
        return check.json_rows(reply.body)
    if edge == "ndjson":
        return check.ndjson_rows(reply.body)
    return check.arrow_rows(reply.table)


def fingerprint(edge: str, reply: Reply, kinds: dict[str, str]) -> tuple:
    """Canonical rows for small responses, a size-based digest for big ones."""
    if reply.nbytes <= FULL_CHECK_BYTES:
        return ("rows", check.canonical(decode(edge, reply), kinds))
    if reply.table is None:
        return ("bytes", len(reply.body))
    t = reply.table.column("time")
    if pa.types.is_timestamp(t.type):
        t = t.cast(pa.int64())
    return ("arrow", reply.table.num_rows, pc.sum(t).as_py())


def same_fingerprint(a: tuple, b: tuple | None) -> bool:
    if b is None or a[0] != b[0]:
        return False
    return check.same_rows(a[1], b[1]) if a[0] == "rows" else a == b
