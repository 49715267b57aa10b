"""Seeded events lake in the reference layout.

    {root}/{db}/{table}/data/date=YYYY-MM-DD/hour=HH/events.parquet
                                              + metadata.json

Every hour of the lake is one parquet file written with pyarrow, so the
same seed gives byte-identical files. ``time`` is int64 epoch
nanoseconds, the reference's and ``writer.write_table``'s documented
model. The program under test never sees the seed, only these files;
``metadata.json`` is written by the program's own
``sources.writer.write_metadata`` (the "initial write").
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB = "mydb"
TABLE = "events"
NS_PER_S = 1_000_000_000
NS_PER_HOUR = 3600 * NS_PER_S
#: First hour of the lake; appends continue after the last catalogued hour.
EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)
EPOCH_NS = int(EPOCH.timestamp()) * NS_PER_S

SERVICES = [f"svc-{i}" for i in range(8)]
HOSTS = [f"host-{i:02d}" for i in range(48)]
LEVELS = ["debug", "info", "warn", "error"]
STATUSES = np.array([200, 200, 200, 201, 204, 301, 404, 500, 503], dtype=np.int32)

SCHEMA = pa.schema(
    [
        ("time", pa.int64()),
        ("service", pa.string()),
        ("host", pa.string()),
        ("level", pa.string()),
        ("status", pa.int32()),
        ("latency_us", pa.int64()),
        ("bytes", pa.int64()),
        ("value", pa.float64()),
    ]
)


@dataclass(frozen=True)
class LakeSpec:
    """Shape of the generated lake; ``seed`` is the only source of values."""

    seed: int
    days: int = 30
    rows_per_hour: int = 2_100

    @property
    def hours(self) -> int:
        return self.days * 24

    @property
    def end_ns(self) -> int:
        """Exclusive end of the generated range."""
        return EPOCH_NS + self.hours * NS_PER_HOUR


def hour_start_ns(hour_index: int) -> int:
    return EPOCH_NS + hour_index * NS_PER_HOUR


def iso(ns: int) -> str:
    """RFC3339 literal for an hour-aligned ns instant (query text)."""
    dt = EPOCH + timedelta(microseconds=(ns - EPOCH_NS) // 1000)
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def _strings(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def hour_table(spec: LakeSpec, hour_index: int) -> pa.Table:
    """Rows of one hour, a pure function of (seed, hour_index).

    The row count varies ±10% per hour so hours differ in size; times are
    sorted, as an ingest writer would flush them.
    """
    rng = np.random.default_rng([spec.seed, hour_index])
    n = int(spec.rows_per_hour * rng.uniform(0.9, 1.1))
    t0 = hour_start_ns(hour_index)
    offsets = np.sort(rng.integers(0, NS_PER_HOUR, n, dtype=np.int64))
    svc = rng.integers(0, len(SERVICES), n)
    return pa.table(
        {
            "time": pa.array(t0 + offsets, pa.int64()),
            "service": _strings(SERVICES, svc),
            "host": _strings(HOSTS, rng.integers(0, len(HOSTS), n)),
            "level": _strings(LEVELS, rng.choice(4, n, p=[0.2, 0.6, 0.15, 0.05])),
            "status": pa.array(STATUSES[rng.integers(0, len(STATUSES), n)]),
            "latency_us": pa.array(
                (rng.lognormal(7.0, 1.0, n) + svc * 100).astype(np.int64)
            ),
            "bytes": pa.array(rng.integers(64, 65_536, n, dtype=np.int64)),
            "value": pa.array(np.round(rng.normal(50.0, 15.0, n), 3)),
        },
        schema=SCHEMA,
    )


def data_dir(root: str) -> str:
    return os.path.join(root, DB, TABLE, "data")


def hour_dir(root: str, hour_index: int) -> str:
    dt = EPOCH + timedelta(hours=hour_index)
    return os.path.join(
        data_dir(root), f"date={dt:%Y-%m-%d}", f"hour={dt:%H}"
    )


def _write_hour(spec: LakeSpec, root: str, hour_index: int) -> tuple[int, int]:
    folder = hour_dir(root, hour_index)
    os.makedirs(folder, exist_ok=True)
    path = os.path.join(folder, "events.parquet")
    table = hour_table(spec, hour_index)
    pq.write_table(table, path, compression="snappy")
    return table.num_rows, os.path.getsize(path)


def generate(spec: LakeSpec, root: str, threads: int = 4) -> dict:
    """Write the lake's parquet files (no metadata.json); returns counts.
    Hours are independent, so ``threads`` writers give the same bytes."""
    with ThreadPoolExecutor(threads) as pool:
        done = list(pool.map(lambda h: _write_hour(spec, root, h), range(spec.hours)))
    return {
        "rows": sum(r for r, _ in done),
        "files": len(done),
        "bytes": sum(b for _, b in done),
    }


def file_hashes(root: str) -> dict[str, str]:
    """sha256 of every parquet file, keyed by lake-relative path."""
    out = {}
    base = data_dir(root)
    for dirpath, _, names in os.walk(base):
        for name in names:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, base)] = hashlib.sha256(f.read()).hexdigest()
    return out
