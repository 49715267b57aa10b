"""Metric naming and a smoke run of every workload on a tiny lake.

The smoke runs start Spark (about 10 s each); do not run them while a
benchmark is measuring on the same host.
"""

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def contract():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_contract_names_and_units():
    c = contract()
    names = [m["name"] for m in c["end_to_end"] + c["per_layer"]]
    assert len(names) == len(set(names))
    for m in c["end_to_end"] + c["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in c["end_to_end"] if m["name"] == "setup_s"
    ).items()
    assert {w["name"] for w in c["workloads"]} == {"wide_scan", "row_export"}


def run(*args):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), *args,
         "--days", "2", "--rows-per-hour", "60"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    return out.returncode, lines


def check_output(rc, lines, names, appends=False):
    assert rc == 0, lines[-5:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    if not appends:
        assert result["failed"] == 0
    # with appends beside reads, some queries fail with PATH_NOT_FOUND:
    # the catalog lists files in Spark's _temporary staging dirs (a known
    # program defect the benchmark reports, not a wrong result)
    assert set(result["metrics"]) == set(names)
    for m in result["metrics"].values():
        assert set(m) == {"value", "unit"} and UNIT.match(m["unit"])
    # every metric is also printed by name with its unit
    printed = [l.split() for l in lines if l.startswith("metric ")]
    assert printed and all(len(p) == 5 and UNIT.match(p[4]) for p in printed)


@pytest.mark.parametrize("workload", ["live_dashboard", "wide_scan", "row_export"])
def test_smoke_timed(workload):
    rc, lines = run("--workload", workload, "--seed", "3", "--seconds", "2", "--trace", "0")
    check_output(rc, lines, [m["name"] for m in contract()["end_to_end"]],
                 appends=workload == "live_dashboard")


def test_smoke_traced():
    rc, lines = run("--workload", "wide_scan", "--seed", "3", "--seconds", "8", "--trace", "1")
    check_output(rc, lines, [m["name"] for m in contract()["per_layer"]], appends=True)
    assert any(l.startswith("selftime wide_scan") for l in lines)


def test_refuses_without_program(tmp_path):
    """A checkout holding only BENCHMARK.json and the benchmark fails
    fast and prints no result."""
    import shutil

    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "lakebench", ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", "wide_scan", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert out.returncode != 0
    assert "correct" not in out.stdout
