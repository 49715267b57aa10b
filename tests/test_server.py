"""HTTP API parity tests (reference querier/server.go)."""

from __future__ import annotations

import http.client
import json
import socket
import threading
import urllib.request

import pytest

from gigapi_querier_spark.engine import QueryEngine
from gigapi_querier_spark.server import serve
from tests.fixtures import build_weather_root


@pytest.fixture(scope="module")
def base_url(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("gigapi_root"))
    build_weather_root(root)
    engine = QueryEngine(spark, root=root)
    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{port}"
    httpd.shutdown()


def _post(url: str, body: dict) -> tuple[int, bytes]:
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(), headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_query_json(base_url):
    code, body = _post(
        base_url + "/query?db=mydb",
        {"query": "SELECT count(*) AS value FROM weather"},
    )
    assert code == 200
    out = json.loads(body)
    assert out == {"results": [{"value": "84"}]}  # int64-as-string


def test_query_db_in_body(base_url):
    code, body = _post(
        base_url + "/query", {"query": "SHOW TABLES", "db": "mydb"}
    )
    assert code == 200
    names = {r["table_name"] for r in json.loads(body)["results"]}
    assert names == {"weather", "metrics"}


def test_query_ndjson(base_url):
    code, body = _post(
        base_url + "/query?db=mydb&format=ndjson",
        {"query": "SELECT location, count(*) AS n FROM weather GROUP BY location"},
    )
    assert code == 200
    lines = [json.loads(l) for l in body.decode().strip().splitlines()]
    assert len(lines) == 3 and all("location" in l and "n" in l for l in lines)


def test_error_shape_400(base_url):
    code, body = _post(base_url + "/query", {"query": "SELECT FROM WHERE"})
    assert code == 400
    assert "error" in json.loads(body)


def test_missing_query_400(base_url):
    code, body = _post(base_url + "/query", {})
    assert code == 400
    assert json.loads(body)["error"] == "missing query"


def test_unknown_format_400(base_url):
    code, body = _post(base_url + "/query?format=xml", {"query": "SELECT 1"})
    assert code == 400


def _raw_post(base_url: str, body: bytes, length: str) -> tuple[int, dict]:
    """POST ``body`` with ``length`` sent verbatim as Content-Length."""
    host, port = base_url.removeprefix("http://").split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=30)
    try:
        conn.putrequest("POST", "/query")
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", length)
        conn.endheaders(body)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


@pytest.mark.parametrize(
    "body,error",
    [
        (b"[]", "JSON body must be an object"),
        (b'"SELECT 1"', "JSON body must be an object"),
        (b'{"query": 5}', "query and db must be strings"),
        (b'{"query": "SHOW TABLES", "db": ["mydb"]}', "query and db must be strings"),
        (b'{"query": "\xff"}', "invalid JSON body"),
    ],
    ids=["list", "string", "query_int", "db_list", "not_utf8"],
)
def test_malformed_body_400(base_url, body, error):
    assert _raw_post(base_url, body, str(len(body))) == (400, {"error": error})


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_malformed_content_length_400(base_url, length):
    assert _raw_post(base_url, b"{}", length) == (400, {"error": "invalid Content-Length"})


def test_health(base_url):
    with urllib.request.urlopen(base_url + "/health") as resp:
        out = json.loads(resp.read())
    assert out["status"] == "ok" and "timestamp" in out


def test_show_databases(base_url):
    code, body = _post(base_url + "/query", {"query": "SHOW DATABASES"})
    assert code == 200
    names = {r["database_name"] for r in json.loads(body)["results"]}
    assert names == {"mydb", "otherdb"}


def test_concurrent_queries_share_session(base_url):
    # ThreadingHTTPServer + one shared SparkSession: 8 parallel queries
    # must all succeed with correct results (the reference likewise shares
    # one DuckDB handle across request goroutines)
    import concurrent.futures

    def one(i: int):
        code, body = _post(
            base_url + "/query?db=mydb",
            {"query": f"SELECT count(*) + {i} AS v FROM weather"},
        )
        return code, json.loads(body)["results"][0]["v"]

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(one, range(8)))
    assert all(code == 200 for code, _ in results)
    assert [v for _, v in results] == [str(84 + i) for i in range(8)]


def test_json_max_rows_guard(base_url, monkeypatch=None):
    # 84 weather rows; a cap of 10 must refuse format=json with a clean 400
    from gigapi_querier_spark.engine import QueryEngine

    old = QueryEngine.MAX_JSON_ROWS
    QueryEngine.MAX_JSON_ROWS = 10
    try:
        code, body = _post(base_url + "/query", {"query": "SELECT * FROM weather"})
        assert code == 400
        assert b"ndjson" in body and b"error" in body
        # ndjson still streams the full result
        import urllib.request

        req = urllib.request.Request(
            base_url + "/query?format=ndjson",
            data=json.dumps({"query": "SELECT * FROM weather"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            lines = [l for l in resp.read().splitlines() if l.strip()]
        assert len(lines) == 84
    finally:
        QueryEngine.MAX_JSON_ROWS = old


def test_ui_served_at_root(base_url):
    import urllib.request

    with urllib.request.urlopen(base_url + "/") as resp:
        body = resp.read().decode()
        assert resp.status == 200
        assert "text/html" in resp.headers["Content-Type"]
    assert "gigapi-querier-spark" in body and "/query" in body


def test_ui_disabled_via_env(base_url, monkeypatch):
    import urllib.error
    import urllib.request

    monkeypatch.setenv("GIGAPI_DISABLE_UI", "1")
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(base_url + "/")
    assert ei.value.code == 404


def _ndjson(url: str, body: dict) -> list[dict]:
    code, out = _post(url, body)
    assert code == 200, out
    return [json.loads(l) for l in out.decode().splitlines()]


#: every type family the edges encode, over enough rows (~0.5 MB of
#: ndjson) that the stream spans several HTTP chunks
MIXED = """
SELECT CAST(id AS INT) AS i32, id * 3000000000 AS i64, id / 4 AS dbl,
       concat('s', id) AS str, id % 2 = 0 AS flag,
       date_add(DATE'2024-01-01', CAST(id AS INT)) AS day,
       CAST(concat('b', id) AS BINARY) AS bin, array(id, id + 1) AS arr,
       map('k', id, 'j', -id) AS m,
       named_struct('a', id, 'b', named_struct('c', concat('z', id),
                                               'm', map('q', array(id)))) AS st,
       CAST(NULL AS BIGINT) AS count,
       TIMESTAMP'2024-01-02 03:04:05.123456 UTC' + make_dt_interval(0, 0, 0, id) AS ts
FROM range(2000)
"""


def test_json_and_ndjson_rows_agree(base_url, spark):
    code, body = _post(base_url + "/query", {"query": MIXED})
    assert code == 200, body
    rows = json.loads(body)["results"]
    assert len(rows) == 2000
    assert _ndjson(base_url + "/query?format=ndjson", {"query": MIXED}) == rows
    assert rows[1] == {
        "i32": "1", "i64": "3000000000", "dbl": 0.25, "str": "s1", "flag": False,
        "day": "2024-01-02", "bin": b"b1".hex(), "arr": ["1", "2"],
        "m": {"k": "1", "j": "-1"},
        "st": {"a": "1", "b": {"c": "z1", "m": {"q": ["1"]}}},
        "count": "0", "ts": "2024-01-02T03:04:06.123456Z",
    }
    # maps and structs come back as dicts, nested ones too
    row = QueryEngine(spark, root="/nonexistent").query_rows(MIXED)[1]
    assert row["m"] == {"k": 1, "j": -1}
    assert row["st"] == {"a": 1, "b": {"c": "z1", "m": {"q": [1]}}}
    assert row["count"] == 0


def test_timestamps_are_utc_on_a_non_utc_host(base_url):
    """Timestamps render in UTC on both edges, nested ones too (the ndjson
    rows carry them as naive local time at every depth)."""
    import os
    import time

    ts = "TIMESTAMP'2024-01-02 03:04:05.123456 UTC'"
    body = {
        "query": f"SELECT {ts} AS ts, named_struct('t', {ts}) AS st,"
        f" array({ts}, NULL) AS arr, map('k', {ts}) AS m"
    }
    want_ts = "2024-01-02T03:04:05.123456Z"
    want = {"ts": want_ts, "st": {"t": want_ts}, "arr": [want_ts, None], "m": {"k": want_ts}}
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        code, out = _post(base_url + "/query", body)
        assert code == 200, out
        assert json.loads(out)["results"] == [want]
        assert _ndjson(base_url + "/query?format=ndjson", body) == [want]
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.mark.parametrize(
    "path,code",
    [("/query?format=xml", 400), ("/nope", 404)],
    ids=["unknown_format", "unknown_path"],
)
def test_early_error_keeps_the_connection_usable(base_url, path, code):
    """A request refused before its body is parsed still consumes that
    body, so the next request on the same keep-alive connection is read
    from its own request line."""
    host, port = base_url.removeprefix("http://").split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=30)
    headers = {"Content-Type": "application/json"}
    try:
        conn.request("POST", path, json.dumps({"query": "SELECT 1 AS x"}), headers)
        resp = conn.getresponse()
        assert resp.status == code
        resp.read()
        conn.request("POST", "/query", json.dumps({"query": "SELECT 1 AS x"}), headers)
        resp = conn.getresponse()
        assert (resp.status, json.loads(resp.read())) == (200, {"results": [{"x": "1"}]})
    finally:
        conn.close()


#: exact rows both edges send (json: in the ``{"results": [...]}``
#: envelope, joined by ", "; ndjson: one per line). ``count`` holds nulls
#: (rendered 0) and ``pressure`` exists in one file only (null elsewhere).
PINNED = {
    "SELECT * FROM weather ORDER BY time LIMIT 3": [
        b'{"time": "1704067200000000000", "location": "north", "temperature": 10.0,'
        b' "humidity": 40.0, "active": true, "count": "0", "pressure": null}',
        b'{"time": "1704067500000000000", "location": "south", "temperature": 11.0,'
        b' "humidity": 41.0, "active": false, "count": "1", "pressure": null}',
        b'{"time": "1704067800000000000", "location": "east", "temperature": 12.0,'
        b' "humidity": 42.0, "active": true, "count": "2", "pressure": null}',
    ],
    "SELECT * FROM weather WHERE time >= 1704283200000000000 ORDER BY time LIMIT 2": [
        b'{"time": "1704283200000000000", "location": "north", "temperature": 10.0,'
        b' "humidity": 40.0, "active": true, "count": "0", "pressure": 0.0}',
        b'{"time": "1704283260000000000", "location": "south", "temperature": 11.0,'
        b' "humidity": 41.0, "active": false, "count": "1", "pressure": 1.0}',
    ],
    # a duplicate name keeps its first position and takes the last value
    "SELECT 1 AS a, 2 AS a": [b'{"a": "2"}'],
    "SELECT * FROM weather WHERE 1 = 0": [],
}


@pytest.mark.parametrize("sql", list(PINNED))
def test_response_bytes_are_pinned(base_url, sql):
    rows = PINNED[sql]
    body = {"query": sql}
    assert _post(base_url + "/query?db=mydb", body) == (
        200,
        b'{"results": [' + b", ".join(rows) + b"]}",
    )
    assert _post(base_url + "/query?db=mydb&format=ndjson", body) == (
        200,
        b"".join(r + b"\n" for r in rows),
    )


@pytest.mark.parametrize(
    "sql,text",
    [
        ("SELECT 1.5 AS x", '"1.5"'),  # Spark types 1.5 as DECIMAL(2,1)
        ("SELECT CAST(2 AS DECIMAL(20,0)) AS x", '"2"'),
        ("SELECT CAST('12345678901234567890.10' AS DECIMAL(22,2)) AS x",
         '"12345678901234567890.10"'),
        ("SELECT CAST(NULL AS DECIMAL(5,2)) AS x", "null"),
    ],
)
def test_decimals_render_as_exact_strings(base_url, sql, text):
    """A decimal is its exact text in a string, BigInt-safe like int64."""
    row = '{"x": %s}' % text
    assert _post(base_url + "/query", {"query": sql}) == (
        200,
        ('{"results": [%s]}' % row).encode(),
    )
    assert _post(base_url + "/query?format=ndjson", {"query": sql}) == (
        200,
        (row + "\n").encode(),
    )


def test_ndjson_failure_mid_stream_is_a_truncated_body(base_url):
    """Rows are on the wire when the last partition fails: the chunked body
    must not end with its terminating chunk, so the client cannot read the
    response as complete."""
    sql = (
        "SELECT id, CASE WHEN id = 9000 THEN raise_error('boom') ELSE id END AS v"
        " FROM range(0, 10000, 1, 4)"
    )
    host, port = base_url.removeprefix("http://").split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=60)
    try:
        conn.request("POST", "/query?format=ndjson", json.dumps({"query": sql}))
        resp = conn.getresponse()
        assert resp.status == 200
        with pytest.raises(http.client.IncompleteRead) as ei:
            resp.read()
    finally:
        conn.close()
    lines = ei.value.partial.splitlines()
    assert 0 < len(lines) < 10000
    assert json.loads(lines[0]) == {"id": "0", "v": "0"}


def test_ndjson_chunks_stay_bounded(base_url):
    """The handler holds at most ``CHUNK_ROWS`` rows: read the raw chunked
    framing of a 10,000-row response."""
    from gigapi_querier_spark.server import CHUNK_ROWS

    host, port = base_url.removeprefix("http://").split(":")
    body = json.dumps({"query": "SELECT id FROM range(10000)"}).encode()
    with socket.create_connection((host, int(port)), timeout=60) as sock:
        sock.sendall(
            b"POST /query?format=ndjson HTTP/1.1\r\nHost: x\r\nConnection: close\r\n"
            b"Content-Length: %d\r\n\r\n%s" % (len(body), body)
        )
        raw = b""
        while data := sock.recv(1 << 16):
            raw += data
    head, rest = raw.split(b"\r\n\r\n", 1)
    assert head.startswith(b"HTTP/1.1 200") and b"Transfer-Encoding: chunked" in head
    chunks = []
    while True:
        size_line, rest = rest.split(b"\r\n", 1)
        size = int(size_line, 16)
        if size == 0:
            assert rest == b"\r\n"
            break
        chunks.append(rest[:size])
        assert rest[size : size + 2] == b"\r\n"
        rest = rest[size + 2 :]
    lines = [c.count(b"\n") for c in chunks]
    assert sum(lines) == 10000 and len(chunks) > 1
    assert max(lines) <= CHUNK_ROWS
