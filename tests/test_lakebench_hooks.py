"""The program names the lake benchmark (``lakebench/``) calls: the SQL
pass steps its traced pass times, and the engine, server and Arrow hooks
it wraps. A renamed hook fails here, not only in the benchmark's own
smoke test."""

from __future__ import annotations

import importlib.util
import os

import pytest

from gigapi_querier_spark.engine import QueryEngine
from gigapi_querier_spark.sources.writer import write_metadata
from tests.fixtures import build_weather_root

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "lakebench_run", os.path.join(REPO, "lakebench", "run.py")
)
run = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run)  # puts lakebench/ on sys.path for its imports

import lake  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402


@pytest.mark.parametrize(
    "template", [*wl.PANELS.values(), *wl.AGGS.values(), wl.EXPORT]
)
def test_parse_layers_runs_on_every_workload_statement(template):
    req = wl.make_request(template, "k", "json", 0, 3600 * 10**9)
    run.parse_layers(req.sql)


def test_instrument_and_undo(spark, tmp_path):
    build_weather_root(str(tmp_path))
    engine = QueryEngine(spark, root=str(tmp_path))
    tracer = spans.Tracer()
    undo = spans.instrument(engine, tracer)
    try:
        rows = engine.query_rows("SELECT count(*) AS n FROM weather", "mydb")
    finally:
        undo()
    assert rows == [{"n": 84}]
    names = {s.name for s in tracer.spans}
    assert {"engine.query_rows", "engine.query", "catalog.find_files", "exec"} <= names
    assert "query" not in vars(engine) and "query_rows" not in vars(engine)


#: spans the traced pass needs from one export request on each edge
EDGE_SPANS = {
    "json": {
        "engine.query_rows", "engine.query", "catalog.find_files", "exec",
        "formats.encode", "server.request",
    },
    "ndjson": {"engine.query", "exec", "formats.encode", "server.request"},
    "flight": {
        "engine.query", "exec", "arrow_out.normalize",
        "flightsql.get_flight_info", "flightsql.do_get",
    },
}


def test_traced_export_reaches_every_edge_hook(spark, tmp_path):
    """One traced ``SELECT *`` per edge through the benchmark's own servers
    and client records the span of every hook ``instrument`` installs."""
    root = str(tmp_path)
    spec = lake.LakeSpec(seed=3, days=1, rows_per_hour=60)
    lake.generate(spec, root, threads=2)
    write_metadata(lake.data_dir(root))
    served = run.Served(spark, root)
    tracer = spans.Tracer()
    undo = spans.instrument(served.engine, tracer)
    client = run.Client(served, tracer)
    try:
        reqs = wl.row_export_cycle(spec)
        assert [r.edge for r in reqs] == list(wl.EXPORT_EDGES)
        replies = [client._traced(r) for r in reqs]
    finally:
        undo()
        client.close()
        served.close()
    assert all(r.ok for r in replies), [r.error for r in replies]
    rids = {s.attrs["edge"]: s.rid for s in tracer.spans if s.name == "request"}
    names = {edge: {s.name for s in tracer.spans if s.rid == rid} for edge, rid in rids.items()}
    for edge, want in EDGE_SPANS.items():
        assert want <= names[edge], (edge, want - names[edge])
