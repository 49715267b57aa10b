"""The three result edges decode to one canonical row hash."""

import json
import math

import pyarrow as pa

import check


def test_rfc3339nano():
    assert check.rfc3339_to_ns("1970-01-01T00:00:01Z") == 1_000_000_000
    assert check.rfc3339_to_ns("1970-01-01T00:00:00.5Z") == 500_000_000
    assert check.rfc3339_to_ns("1970-01-01T01:00:00.000000001+01:00") == 1


def test_edges_hash_alike():
    ref = pa.table(
        {
            "time": pa.array([3_000_000_001, 1_000_000_000], pa.int64()),
            "host": ["b", "a"],
            "value": [0.1 + 0.2, 2.5],
        }
    )
    kinds = check.kinds_of(ref.schema)
    want = check.canonical(check.arrow_rows(ref), kinds)
    # json: int64 as decimal strings; rows in another order
    body = json.dumps(
        {"results": [
            {"time": "1000000000", "host": "a", "value": 2.5},
            {"time": "3000000001", "host": "b", "value": 0.30000000000000004},
        ]}
    ).encode()
    assert check.same_rows(check.canonical(check.json_rows(body), kinds), want)
    nd = b'{"time": "3000000001", "host": "b", "value": 0.3}\n{"time": "1000000000", "host": "a", "value": 2.5}\n'
    assert check.same_rows(check.canonical(check.ndjson_rows(nd), kinds), want)
    # Flight serves time as timestamp[ns, UTC]; a timestamp rendered as
    # RFC3339Nano text also decodes to the same ns
    flight = ref.set_column(0, "time", ref.column("time").cast(pa.timestamp("ns", tz="UTC")))
    assert check.same_rows(check.canonical(check.arrow_rows(flight), kinds), want)
    as_text = [{"time": "1970-01-01T00:00:03.000000001Z", "host": "b", "value": 0.3},
               {"time": "1970-01-01T00:00:01Z", "host": "a", "value": 2.5}]
    assert check.same_rows(check.canonical(as_text, kinds), want)


def test_different_rows_differ():
    ref = pa.table({"n": pa.array([1, 2], pa.int64())})
    kinds = check.kinds_of(ref.schema)
    want = check.canonical(check.arrow_rows(ref), kinds)
    assert not check.same_rows(check.canonical([{"n": "1"}, {"n": "3"}], kinds), want)
    assert not check.same_rows(check.canonical([{"n": "1"}], kinds), want)


def test_float_on_a_rounding_boundary():
    # two engines' averages one ulp apart across a 9-digit rounding boundary
    a = 49.87654325
    b = math.nextafter(a, 100.0)
    assert f"{a:.9g}" != f"{b:.9g}"
    kinds = {"avg": "float"}
    assert check.same_rows(check.canonical([{"avg": a}], kinds), check.canonical([{"avg": b}], kinds))
    assert not check.same_rows(check.canonical([{"avg": a}], kinds), check.canonical([{"avg": a * 1.001}], kinds))
