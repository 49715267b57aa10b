"""Request sequences of the three workloads, all derived from the seed.

Each request carries two texts of one query: the Grafana-style SQL sent
to the program (RFC3339 time literals, ``mydb.events``) and the DuckDB
reference form (int64-ns literals, ``{table}`` standing for the
``read_parquet([...], union_by_name=true)`` the reference rewrites a
table to).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from lake import DB, NS_PER_HOUR, TABLE, LakeSpec, hour_start_ns, iso

#: Panel queries of a monitoring dashboard (live_dashboard, HTTP json).
PANELS = {
    "rate": "SELECT time {div} 60000000000 AS minute, count(*) AS cnt, "
    "avg(value) AS avg_value FROM {table} WHERE {where} GROUP BY 1",
    "errors": "SELECT service, level, count(*) AS cnt, avg(latency_us) AS avg_latency "
    "FROM {table} WHERE {where} GROUP BY service, level",
    "hosts": "SELECT host, max(latency_us) AS max_latency, sum(bytes) AS total_bytes "
    "FROM {table} WHERE {where} GROUP BY host",
}
PANEL_WINDOWS_H = (1, 6, 24)

#: Aggregations with tiny results (wide_scan, Flight).
AGGS = {
    "totals": "SELECT count(*) AS cnt, sum(bytes) AS total_bytes, "
    "avg(latency_us) AS avg_latency, max(value) AS max_value "
    "FROM {table} WHERE {where}",
    "levels": "SELECT level, count(*) AS cnt, sum(bytes) AS total_bytes "
    "FROM {table} WHERE {where} GROUP BY level",
}

EXPORT = "SELECT * FROM {table} WHERE {where}"
EXPORT_EDGES = ("json", "ndjson", "flight")


@dataclass(frozen=True)
class Request:
    key: str  # identifies a distinct request (same SQL, same edge)
    edge: str  # json | ndjson | flight
    sql: str  # what the program receives
    duck_sql: str  # DuckDB reference form, ``{table}`` still unbound
    lo: int  # queried range [lo, hi) in epoch ns
    hi: int
    kind: str  # template name, for per-kind reporting


def make_request(template: str, kind: str, edge: str, lo: int, hi: int) -> Request:
    sql = template.format(
        div="DIV",
        table=f"{DB}.{TABLE}",
        where=f"time >= '{iso(lo)}' AND time < '{iso(hi)}'",
    )
    duck = template.format(
        div="//", table="{table}", where=f"time >= {lo} AND time < {hi}"
    )
    hours = (hi - lo) // NS_PER_HOUR
    return Request(f"{kind}:{edge}:{iso(lo)}:{hours}h", edge, sql, duck, lo, hi, kind)


def panel_request(name: str, hours: int, now_ns: int) -> Request:
    """One dashboard panel over a trailing window ending at ``now_ns``."""
    return make_request(
        PANELS[name], f"{name}{hours}h", "json", now_ns - hours * NS_PER_HOUR, now_ns
    )


def panel_picks(seed: int, n: int) -> list[tuple[str, int]]:
    """``n`` (panel, window) shapes in seeded order; every block of
    len(PANELS) * len(PANEL_WINDOWS_H) holds each shape once, so runs of
    different seeds carry the same mix."""
    shapes = [(p, h) for p in PANELS for h in PANEL_WINDOWS_H]
    rng = np.random.default_rng([seed, 5])
    out: list[tuple[str, int]] = []
    while len(out) < n:
        out.extend(shapes[int(i)] for i in rng.permutation(len(shapes)))
    return out[:n]


def poisson_schedule(seed: int, rate: float, seconds: float) -> list[float]:
    """Arrival offsets (s) of an open loop at ``rate`` requests/s."""
    rng = np.random.default_rng([seed, 1])
    out, t = [], 0.0
    while True:
        t += rng.exponential(1.0 / rate)
        if t >= seconds:
            return out
        out.append(t)


def wide_scan_cycle(spec: LakeSpec) -> list[Request]:
    """The distinct wide_scan requests: an aggregation over one seeded day,
    seven seeded days and the full range. Runs repeat this set."""
    rng = np.random.default_rng([spec.seed, 2])
    day = int(rng.integers(spec.days))
    week = int(rng.integers(spec.days - 6)) if spec.days > 7 else 0
    return [
        make_request(AGGS["totals"], "totals", "flight",
                     hour_start_ns(24 * day), hour_start_ns(24 * day + 24)),
        make_request(AGGS["levels"], "levels", "flight", hour_start_ns(24 * week),
                     hour_start_ns(24 * week + 24 * min(7, spec.days))),
        make_request(AGGS["totals"], "totals", "flight", hour_start_ns(0), spec.end_ns),
    ]


def row_export_cycle(spec: LakeSpec, n_days: int = 1) -> list[Request]:
    """``SELECT *`` over one-day windows, each day rotating json → ndjson
    → Flight."""
    rng = np.random.default_rng([spec.seed, 3])
    days = rng.choice(spec.days, size=min(n_days, spec.days), replace=False)
    return [
        make_request(EXPORT, "export", edge, hour_start_ns(24 * d), hour_start_ns(24 * d + 24))
        for d in sorted(int(x) for x in days)
        for edge in EXPORT_EDGES
    ]


def shuffled_cycles(seed: int, cycle: list[Request]):
    """Endless sequence of whole cycles, each in a fresh seeded order."""
    rng = np.random.default_rng([seed, 4])
    while True:
        for i in rng.permutation(len(cycle)):
            yield cycle[int(i)]
