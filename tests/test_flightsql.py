"""Arrow Flight round-trip tests (reference querier/flightsql.go two-RPC
protocol: GetFlightInfo → ticket → DoGet)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from gigapi_querier_spark.engine import QueryEngine
from gigapi_querier_spark.flightsql import (
    GigapiFlightServer,
    extract_statement_query,
)
from tests.fixtures import build_weather_root


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("gigapi_root"))
    build_weather_root(root)
    engine = QueryEngine(spark, root=root)
    srv = GigapiFlightServer(engine, "grpc://127.0.0.1:0")
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    return flight.connect(f"grpc://127.0.0.1:{server.port}")


def _roundtrip(client, sql: bytes) -> pa.Table:
    info = client.get_flight_info(flight.FlightDescriptor.for_command(sql))
    assert info.endpoints
    return client.do_get(info.endpoints[0].ticket).read_all()


def test_plain_sql_command(client):
    t = _roundtrip(client, b"SELECT 1 AS x, 2.5 AS y")
    assert t.num_rows == 1
    assert t.column("x")[0].as_py() == 1


def test_two_rpc_ticket_deleted_after_get(client):
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(b"SELECT 1 AS x")
    )
    ticket = info.endpoints[0].ticket
    client.do_get(ticket).read_all()
    with pytest.raises(flight.FlightServerError):
        client.do_get(ticket)


def test_query_weather_table(client):
    # Flight default db is "default" (flightsql.go:135) — qualify the table.
    t = _roundtrip(
        client,
        b"SELECT time, location, temperature FROM mydb.weather"
        b" WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T01:00:00Z'",
    )
    assert t.num_rows == 12
    # result schema rules: time first (+ns UTC), rest alphabetical
    assert t.column_names == ["time", "location", "temperature"]
    assert t.schema.field("time").type == pa.timestamp("ns", tz="UTC")


def test_protobuf_command_statement_query():
    # Any{type_url=".../CommandStatementQuery", value=CSQ{query=...}}
    sql = "SELECT 42 AS answer".encode()
    csq = b"\x0a" + bytes([len(sql)]) + sql  # field 1, length-delimited
    type_url = b"type.googleapis.com/arrow.flight.protocol.sql.CommandStatementQuery"
    any_msg = (
        b"\x0a" + bytes([len(type_url)]) + type_url + b"\x12" + bytes([len(csq)]) + csq
    )
    assert extract_statement_query(any_msg) == "SELECT 42 AS answer"


def test_protobuf_roundtrip_via_server(client):
    sql = "SELECT 7 AS seven".encode()
    csq = b"\x0a" + bytes([len(sql)]) + sql
    type_url = b"type.googleapis.com/arrow.flight.protocol.sql.CommandStatementQuery"
    any_msg = (
        b"\x0a" + bytes([len(type_url)]) + type_url + b"\x12" + bytes([len(csq)]) + csq
    )
    t = _roundtrip(client, any_msg)
    assert t.column("seven")[0].as_py() == 7


def test_do_put_rejected(client, server):
    schema = pa.schema([("a", pa.int64())])
    with pytest.raises(flight.FlightServerError):
        writer, _ = client.do_put(
            flight.FlightDescriptor.for_command(b"x"), schema
        )
        writer.write_table(pa.table({"a": [1]}))
        writer.close()


def test_db_from_grpc_metadata(server, client):
    # db via "bucket" header (reference reads bucket → database → namespace)
    opts = flight.FlightCallOptions(headers=[(b"bucket", b"mydb")])
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(
            b"SELECT count(*) AS n FROM weather"
        ),
        opts,
    )
    t = client.do_get(info.endpoints[0].ticket).read_all()
    assert t.column("n")[0].as_py() == 84


def test_sanitize_strips_control_chars():
    from gigapi_querier_spark.flightsql import sanitize_query

    assert sanitize_query("SELECT\n1\r\x08") == "SELECT 1"


def test_ticket_expiry(server, client):
    import time as _time

    from gigapi_querier_spark import flightsql as fsql

    info = client.get_flight_info(flight.FlightDescriptor.for_command(b"SELECT 1 AS x"))
    ticket = info.endpoints[0].ticket
    # age the stored ticket past the TTL, then trigger expiry via a new call
    with server._lock:
        key = next(iter(server._tickets))
        ts, table = server._tickets[key]
        server._tickets[key] = (ts - fsql._TICKET_TTL_SEC - 1, table)
    client.get_flight_info(flight.FlightDescriptor.for_command(b"SELECT 2 AS y"))
    with pytest.raises(flight.FlightServerError):
        client.do_get(ticket)


def test_ticket_store_byte_budget(server, client):
    """Oversized results are refused cleanly; the byte budget evicts old
    tickets instead of accumulating tables without bound."""
    import pyarrow.flight as flight

    import gigapi_querier_spark.flightsql as fsql

    old = fsql._MAX_TICKET_BYTES
    fsql._MAX_TICKET_BYTES = 1024  # 1 KiB budget
    try:
        with pytest.raises(flight.FlightServerError, match="too large"):
            client.get_flight_info(
                flight.FlightDescriptor.for_command(
                    b"SELECT * FROM mydb.weather"  # 84 rows x several cols > 1 KiB
                )
            )
        # small results still work, and older tickets evict under pressure
        infos = [
            client.get_flight_info(
                flight.FlightDescriptor.for_command(
                    f"SELECT {i} AS a, 'xxxxxxxx' AS pad".encode()
                )
            )
            for i in range(6)
        ]
        held = sum(t.nbytes for _, t in server._tickets.values())
        assert held <= 1024
        # the newest ticket is still retrievable
        table = client.do_get(infos[-1].endpoints[0].ticket).read_all()
        assert table.num_rows == 1
    finally:
        fsql._MAX_TICKET_BYTES = old
