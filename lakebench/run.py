#!/usr/bin/env python3
"""Lake-layout end-to-end benchmark for gigapi_querier_spark.

    python3 lakebench/run.py --workload wide_scan --seed 7 --seconds 12 --trace 0

One process: the SparkSession (``local[nproc]``), the program's
``QueryEngine`` over a freshly generated lake, its HTTP server
(``server.serve``) and Flight server (``flightsql.GigapiFlightServer``),
and at most ``nproc`` client threads talking to them over loopback.
``--trace 0`` runs the named workload and reports end-to-end metrics;
``--trace 1`` replays every workload's request sequence untraced and then
traced, and reports per-layer self times. Each run checks every distinct
request against DuckDB outside the timed window. The last stdout line is
one JSON object; every metric is also printed above it as
``metric <workload> <name> <value> <unit>``. See README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")  # lakes, Spark scratch; removed after a run
OUT = os.path.join(HERE, "_out")  # span files of traced passes
sys.path.insert(0, HERE)

import check  # noqa: E402
import lake  # noqa: E402
import workloads as wl  # noqa: E402
from edges import FlightEdge, HttpEdge, Reply, decode, fingerprint, same_fingerprint  # noqa: E402
from spans import Tracer, instrument, self_ms_by_request  # noqa: E402

WORKLOADS = ("live_dashboard", "wide_scan", "row_export")
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
SETUP_REPS = 3

#: live_dashboard: open loop, Poisson arrivals on LIVE_CONNS connections.
LIVE_RATE = 1.0
LIVE_CONNS = min(3, NPROC)
APPEND_EVERY_S = 6.0
#: goodput counts completions within this latency (from due time)
LATENCY_LIMIT_MS = 1500.0
#: DuckDB timings per request (the median is used)
DUCK_REPS = 3

now = time.perf_counter


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Report:
    """Metrics printed by name with their unit, in order."""

    def __init__(self):
        self.rows: list[tuple[str, str, float, str]] = []

    def add(self, workload: str, name: str, value: float, unit: str) -> None:
        self.rows.append((workload, name, float(value), unit))
        print(f"metric {workload} {name} {value:.6g} {unit}", flush=True)

    def pick(self, names: list[str], qualify: bool = False) -> dict:
        out = {}
        for w, n, v, u in self.rows:
            key = f"{w}.{n}" if qualify else n
            if key in names:
                out[key] = {"value": v, "unit": u}
        return out


# --- set-up -----------------------------------------------------------------


def prepare_env() -> None:
    """Keep every file the run writes inside WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    os.environ.pop("GIGAPI_METADATA_TYPE", None)  # the JSON (metadata.json) index
    tempfile.tempdir = None


class Bench:
    def __init__(self, seed: int, seconds: float, spec: lake.LakeSpec):
        self.seed, self.seconds, self.spec = seed, seconds, spec
        self.report = Report()
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.failures: list[str] = []
        self.spark = None

    def fail(self, what: str, wrong: bool = False) -> None:
        """A failed operation; ``wrong`` marks a response whose rows differ
        from the reference (the run then exits nonzero), as opposed to an
        error response."""
        self.failed += 1
        self.wrong += wrong
        if len(self.failures) < 20:
            self.failures.append(what)

    def setup(self) -> None:
        """Session start, lake generation, then the initial write: every
        folder's metadata.json built by the program's writer and the
        engine constructed. The initial write runs SETUP_REPS times over
        the same files (each rewrites all metadata.json); set-up time
        counts its median."""
        from gigapi_querier_spark.engine import QueryEngine
        from gigapi_querier_spark.session import get_spark
        from gigapi_querier_spark.sources.writer import write_metadata

        t0 = now()
        self.spark = get_spark(
            app_name="lakebench",
            master=f"local[{NPROC}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        t_session = now() - t0
        self.root = os.path.join(WORK, "lake")
        t0 = now()
        self.lake_stats = lake.generate(self.spec, self.root, threads=NPROC)
        t_gen = now() - t0
        reps = []
        for _ in range(SETUP_REPS):
            t0 = now()
            self.folders = write_metadata(lake.data_dir(self.root))
            QueryEngine(self.spark, root=self.root)
            reps.append(now() - t0)
        self.setup_s = t_session + t_gen + statistics.median(reps)
        print(
            f"setup session_s={t_session:.3f} generate_s={t_gen:.3f} "
            f"initial_write_s={[round(r, 3) for r in reps]}",
            flush=True,
        )
        st = self.lake_stats
        mem = _parse_mem(DRIVER_MEM)
        print(
            f"lake seed={self.seed} rows={st['rows']} files={st['files']} "
            f"folders={self.folders} bytes={st['bytes']} "
            f"bytes_over_driver_memory={st['bytes'] / mem:.4f} "
            "flush=spark/pyarrow local-FS writes, no fsync (lake sits in the OS page cache) "
            "time=int64 ns",
            flush=True,
        )

    def teardown(self) -> None:
        """Stop Spark and its JVM and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None


def _parse_mem(s: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    return int(s[:-1]) * units[s[-1].lower()]


class RssPeak:
    """Samples resident memory of the driver JVM plus this process; keeps
    the peak of the sum and of each."""

    def __init__(self, pids: list[int], period: float = 0.05):
        self.pids, self.period = pids, period
        self.peak_kb = 0
        self.peak_each_kb = [0] * len(pids)
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _sample(self) -> None:
        each = [self._rss_kb(p) for p in self.pids]
        self.peak_kb = max(self.peak_kb, sum(each))
        self.peak_each_kb = [max(a, b) for a, b in zip(self.peak_each_kb, each)]

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._sample()
        self.start_each_kb = list(self.peak_each_kb)
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


# --- one workload's program instance ------------------------------------------


class Served:
    """A QueryEngine over one lake copy, behind both servers."""

    def __init__(self, spark, root: str):
        from gigapi_querier_spark.engine import QueryEngine
        from gigapi_querier_spark.flightsql import GigapiFlightServer
        from gigapi_querier_spark.server import serve

        self.spark, self.root = spark, root
        self.engine = QueryEngine(spark, root=root)
        self.index = self.engine.catalog  # uninstrumented, for checks
        self.httpd = serve(self.engine, "127.0.0.1", 0)
        self.http_port = self.httpd.server_address[1]
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True
        )
        self._thread.start()
        self.flight = GigapiFlightServer(self.engine, "grpc://127.0.0.1:0")
        self.flight_port = self.flight.port

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self._thread.join()
        self.flight.shutdown()


class Checker:
    """DuckDB reference per distinct SQL; expected fingerprint per request."""

    def __init__(self, bench: Bench, served: Served):
        self.bench, self.served = bench, served
        self._duck: check.DuckRef | None = None
        self.ref: dict[str, tuple[dict, list[tuple]]] = {}
        self._files: dict[str, list[str]] = {}
        self.expected: dict[str, tuple] = {}
        self.rows_in_files: dict[str, int] = {}
        self._footers: dict[str, tuple[int, int | None, int | None]] = {}

    def duck(self) -> check.DuckRef:
        if self._duck is None:
            self._duck = check.DuckRef(NPROC, os.path.join(WORK, "duck"))
        return self._duck

    def release(self) -> None:
        """Close DuckDB: before a timed window that does not use it, and
        at the end."""
        if self._duck is not None:
            self._duck.close()
            self._duck = None

    def files(self, req: wl.Request) -> list[str]:
        from gigapi_querier_spark.plans.sqlpass import normalize, parse_query

        p = parse_query(normalize(req.sql), lake.DB)
        return self.served.index.find_files(p.db_name, p.measurement, p.time_range)

    def reference(self, req: wl.Request) -> tuple[dict, list[tuple]]:
        if req.duck_sql not in self.ref:
            self._files[req.duck_sql] = self.files(req)
            table = self.duck().run(req.duck_sql, self._files[req.duck_sql])
            kinds = check.kinds_of(table.schema)
            self.ref[req.duck_sql] = (kinds, check.canonical(check.arrow_rows(table), kinds))
        return self.ref[req.duck_sql]

    def time_duck(self, req: wl.Request) -> float:
        """DuckDB's median time (ms) for ``req`` over the same pruned files:
        the same-run reference Spark's latency is divided by."""
        self.reference(req)
        ms = []
        for _ in range(DUCK_REPS):
            t0 = now()
            self.duck().run(req.duck_sql, self._files[req.duck_sql])
            ms.append((now() - t0) * 1e3)
        return statistics.median(ms)

    def verify(self, req: wl.Request, reply: Reply) -> bool:
        """Full decode and comparison with DuckDB; records the request's
        expected fingerprint for the timed window."""
        self.bench.attempted += 1
        if not reply.ok:
            self.bench.fail(f"{req.key}: {reply.error}")
            return False
        kinds, want = self.reference(req)
        try:
            got = check.canonical(decode(req.edge, reply), kinds)
        except (ValueError, KeyError) as e:
            self.bench.fail(f"{req.key}: undecodable: {e}", wrong=True)
            return False
        if not check.same_rows(got, want):
            self.bench.fail(
                f"{req.key}: differs from DuckDB: {check.first_difference(got, want)}",
                wrong=True,
            )
            return False
        self.expected.setdefault(req.key, fingerprint(req.edge, reply, kinds))
        return True

    def matches(self, req: wl.Request, reply: Reply) -> bool:
        """Cheap check of a timed-window reply against the verified one."""
        self.bench.attempted += 1
        if not reply.ok:
            self.bench.fail(f"{req.key}: {reply.error}")
            return False
        kinds = self.ref[req.duck_sql][0]
        if not same_fingerprint(fingerprint(req.edge, reply, kinds), self.expected.get(req.key)):
            self.bench.fail(f"{req.key}: response differs from the verified one", wrong=True)
            return False
        return True

    def scanned_rows(self, req: wl.Request) -> int:
        """Rows in the kept files, from their parquet footers."""
        if req.key not in self.rows_in_files:
            self.rows_in_files[req.key] = sum(self.footer(f)[0] for f in self.files(req))
        return self.rows_in_files[req.key]

    def footer(self, path: str) -> tuple[int, int | None, int | None]:
        """(rows, min time, max time) from a parquet footer; files are
        never rewritten in place during a run, so the cache stays valid."""
        if path not in self._footers:
            md = pq.ParquetFile(path).metadata
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index("time")
            lo = hi = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is not None and st.has_min_max:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            self._footers[path] = (md.num_rows, lo, hi)
        return self._footers[path]

    def useful_ratio(self, files: list[str], lo: int | None, hi: int | None) -> float:
        """Kept files holding at least one row of [lo, hi) over kept files."""

        def useful(f: str) -> bool:
            try:
                _, fmin, fmax = self.footer(f)
            except FileNotFoundError:
                # listed from Spark's _temporary staging dir by a catalog
                # walk during an append, and moved since: no rows served
                return False
            if fmin is None or fmax is None:
                return True
            return (lo is None or fmax >= lo) and (hi is None or fmin < hi)

        return sum(map(useful, files)) / len(files) if files else 1.0



# --- sending ----------------------------------------------------------------


def parse_layers(sql: str) -> None:
    """The plans.sqlpass steps the engine runs on a request's SQL."""
    from gigapi_querier_spark.plans import sqlpass as sp

    s = sp.normalize(sql)
    p = sp.parse_query(s, lake.DB)
    s = sp.strip_db_qualifier(s, p.db_name, p.measurement)
    s = sp.rewrite_time_literals(s)
    sp.to_spark_sql(sp.rewrite_qualify_all(s))


class Client:
    """One client: an HTTP connection and a Flight connection."""

    def __init__(self, served: Served, tracer: Tracer | None = None):
        self.http = HttpEdge(served.http_port)
        self.fl = FlightEdge(served.flight_port)
        self.tracer = tracer
        self.rids = itertools.count()

    def send(self, req: wl.Request) -> Reply:
        if self.tracer is None:
            if req.edge == "flight":
                return self.fl.call(req.sql)
            return self.http.call(req.sql, req.edge)
        return self._traced(req)

    def _traced(self, req: wl.Request) -> Reply:
        tr = self.tracer
        rid = f"{req.kind}-{next(self.rids)}"
        with tr.span("request", rid=rid, root=True, key=req.key) as root:
            with tr.span("sqlpass.parse"):
                parse_layers(req.sql)
            if req.edge != "flight":
                with tr.span("server.request") as s:
                    tr.current = s
                    try:
                        reply = self.http.call(req.sql, req.edge)
                    finally:
                        tr.current = None
                s.attrs.update(
                    ttfb_ms=(reply.t_first - reply.t_send) * 1e3,
                    transfer_ms=(reply.t_end - reply.t_first) * 1e3,
                    response_bytes=len(reply.body),
                )
            else:
                t0 = now()
                try:
                    with tr.span("flightsql.get_flight_info") as s:
                        tr.current = s
                        try:
                            info = self.fl.info(req.sql)
                        finally:
                            tr.current = None
                    with tr.span("flightsql.do_get") as g:
                        t_first, table = self.fl.fetch(info)
                    g.attrs["ticket_bytes"] = table.nbytes
                    reply = Reply(True, t0, t_first, now(), table=table)
                except Exception as e:  # noqa: BLE001 - reported as a failed op
                    reply = Reply(False, t0, now(), now(), error=repr(e))
        root.attrs["edge"] = req.edge
        return reply

    def close(self) -> None:
        self.http.close()
        self.fl.close()


# --- workloads ----------------------------------------------------------------


class LiveDashboard:
    """Open loop of panel queries (HTTP json) while one thread appends the
    next hour with ``writer.write_table`` every APPEND_EVERY_S."""

    def __init__(self, bench: Bench, served: Served, checker: Checker):
        self.b, self.s, self.c = bench, served, checker
        self.next_hour = bench.spec.hours
        self.now_ns = bench.spec.end_ns
        self.append_ms: list[float] = []
        self.append_info: list[dict] = []

    def append(self, tracer: Tracer | None = None) -> None:
        from gigapi_querier_spark.sources.writer import write_table

        h = self.next_hour
        table = lake.hour_table(self.b.spec, h)
        df = self.s.spark.createDataFrame(table)
        before = _snapshot(self.s.root) if tracer else None
        t0 = now()
        if tracer:
            with tracer.span("writer.write_table", rid=f"append-{h}", root=True):
                write_table(df, self.s.root, lake.DB, lake.TABLE)
        else:
            write_table(df, self.s.root, lake.DB, lake.TABLE)
        self.append_ms.append((now() - t0) * 1e3)
        if tracer:
            after = _snapshot(self.s.root)
            changed = [p for p, v in after.items() if before.get(p) != v]
            self.append_info.append(
                {
                    "metadata_files_rewritten": sum(p.endswith("metadata.json") for p in changed),
                    "bytes_written_per_user_byte": sum(after[p][0] for p in changed)
                    / table.nbytes,
                }
            )
        self.next_hour += 1
        self.now_ns = lake.hour_start_ns(self.next_hour)

    def warm(self) -> None:
        """Untimed: one append, then each panel shape once, verified."""
        self.append()
        cl = Client(self.s)
        for name in wl.PANELS:
            for hours in wl.PANEL_WINDOWS_H:
                req = wl.panel_request(name, hours, self.now_ns)
                self.c.verify(req, cl.send(req))
        cl.close()

    def run(self, seconds: float, conns: int, rate: float, tracer: Tracer | None = None) -> dict:
        offsets = wl.poisson_schedule(self.b.seed, rate, seconds)
        picks = wl.panel_picks(self.b.seed, len(offsets))
        start = now() + 0.05
        nxt = itertools.count()
        results: list[tuple[wl.Request, Reply, float]] = []
        late: list[float] = []

        def client():
            cl = Client(self.s, tracer)
            while (i := next(nxt)) < len(offsets):
                due = start + offsets[i]
                time.sleep(max(0.0, due - now()))
                req = wl.panel_request(*picks[i], self.now_ns)
                late.append((now() - due) * 1e3)
                reply = cl.send(req)
                results.append((req, reply, due))
            cl.close()

        def ingest():
            k = 0.5
            while (due := start + k * APPEND_EVERY_S) < start + seconds:
                time.sleep(max(0.0, due - now()))
                self.append(tracer)
                k += 1

        threads = [threading.Thread(target=client) for _ in range(conns)]
        threads.append(threading.Thread(target=ingest))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        # outside the window: every response against DuckDB over the
        # pruned file list of its (now immutable) time range
        lat, good = [], 0
        for req, reply, due in results:
            ok = self.c.verify(req, reply)
            ms = (reply.t_end - due) * 1e3
            lat.append(ms)
            good += ok and ms <= LATENCY_LIMIT_MS
        return {"lat": lat, "good": good, "late": late, "reqs": [r for r, _, _ in results]}


class ClosedLoop:
    """One client replaying whole rounds of a fixed request set."""

    def __init__(self, bench: Bench, served: Served, checker: Checker, rounds: list[list[wl.Request]]):
        self.b, self.s, self.c = bench, served, checker
        self.rounds = rounds  # each round is one balanced unit of requests

    def warm(self) -> None:
        """Untimed: every distinct request once, verified."""
        cl = Client(self.s)
        for req in {req.key: req for rnd in self.rounds for req in rnd}.values():
            self.c.verify(req, cl.send(req))
        cl.close()

    def run(self, seconds: float, tracer: Tracer | None = None) -> list[tuple[wl.Request, Reply, float]]:
        """Whole rounds until about ``seconds`` have passed (at least one),
        so every request of the set is equally represented. Untraced, each
        reply is followed by DuckDB's time for the same request; traced,
        that slot is 0."""
        cl = Client(self.s, tracer)
        out, n, t0 = [], 0, now()
        while n == 0 or (now() - t0) * (1 + 0.5 / n) < seconds:  # +half a round
            for req in self.rounds[n % len(self.rounds)]:
                reply = cl.send(req)
                out.append((req, reply, 0.0 if tracer else self.c.time_duck(req)))
            n += 1
        cl.close()
        self.n_rounds = n
        for req, reply, _ in out:
            self.c.matches(req, reply)
        return out


def wide_scan_rounds(spec: lake.LakeSpec, seed: int) -> list[list[wl.Request]]:
    cycle = wl.wide_scan_cycle(spec)
    order = wl.shuffled_cycles(seed, cycle)
    return [[next(order) for _ in cycle] for _ in range(4)]


def row_export_rounds(spec: lake.LakeSpec) -> list[list[wl.Request]]:
    cycle = wl.row_export_cycle(spec)
    n = len(wl.EXPORT_EDGES)
    return [cycle[i : i + n] for i in range(0, len(cycle), n)]


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(lake.data_dir(root)):
        for n in names:
            if n.endswith(".parquet") or n == "metadata.json":
                st = os.stat(os.path.join(dirpath, n))
                out[os.path.join(dirpath, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _ms(replies, pred=lambda r: True) -> list[float]:
    return [(rep.t_end - rep.t_send) * 1e3 for req, rep, _ in replies if pred(req)]


# --- timed run ----------------------------------------------------------------


def timed(bench: Bench, workload: str) -> None:
    rep = bench.report
    served = Served(bench.spark, bench.root)
    checker = Checker(bench, served)
    pids = [os.getpid()] + ([bench.jvm_pid()] if bench.jvm_pid() else [])
    try:
        if workload == "live_dashboard":
            live = LiveDashboard(bench, served, checker)
            live.warm()
            warm_appends = len(live.append_ms)
            checker.release()
            settle(bench)
            with RssPeak(pids) as rss:
                res = live.run(bench.seconds, LIVE_CONNS, LIVE_RATE)
            lat = res["lat"]
            duck_by_sql = {q.duck_sql: checker.time_duck(q) for q in res["reqs"]}
            duck = [duck_by_sql[q.duck_sql] for q in res["reqs"]]
            rep.add(workload, "goodput_qps", res["good"] / bench.seconds, "1/s")
            appends = live.append_ms[warm_appends:]
            rep.add(workload, "appends", len(appends), "count")
            if appends:
                rep.add(workload, "append_p50_ms", statistics.median(appends), "ms")
            rep.add(workload, "loadgen.late_p90_ms", pct(res["late"], 90), "ms")
            rep.add(workload, "offered_rate", LIVE_RATE, "1/s")
        else:
            rounds = (
                wide_scan_rounds(bench.spec, bench.seed)
                if workload == "wide_scan"
                else row_export_rounds(bench.spec)
            )
            loop = ClosedLoop(bench, served, checker, rounds)
            loop.warm()
            settle(bench)
            with RssPeak(pids) as rss:
                t0 = now()
                replies = loop.run(bench.seconds)
                busy = now() - t0 - sum(d for _, _, d in replies) / 1e3
            lat = _ms(replies)
            duck = [d for _, _, d in replies]
            if workload == "wide_scan":
                rows = sum(checker.scanned_rows(req) for req, _, _ in replies)
                rep.add(workload, "scan_rows_per_s", rows / busy, "rows/s")
                for label in ("1d", "7d", "30d"):
                    ms = [
                        (r.t_end - r.t_send) * 1e3
                        for q, r, _ in replies
                        if _range_label(q) == label
                    ]
                    if ms:
                        rep.add(workload, f"query_p50_ms.{label}", statistics.median(ms), "ms")
            else:
                for edge in wl.EXPORT_EDGES:
                    rep.add(workload, f"{edge}_p50_ms", statistics.median(_ms(replies, lambda q: q.edge == edge)), "ms")
                ttfb = [
                    (r.t_first - r.t_send) * 1e3 for q, r, _ in replies if q.edge in ("ndjson", "flight")
                ]
                rep.add(workload, "ttfb_p50_ms", statistics.median(ttfb), "ms")
                rows_out = sum(len(checker.ref[q.duck_sql][1]) for q, _, _ in replies)
                rep.add(workload, "rows_out_per_s", rows_out / busy, "rows/s")
            rep.add(workload, "rounds", loop.n_rounds, "count")
        # total Spark time over DuckDB's time for the same requests in the
        # same run: cancels much of the host's speed drift between runs
        rep.add(workload, "spark_over_duckdb", sum(lat) / sum(duck), "ratio")
        rep.add(workload, "spark_over_duckdb.p50", statistics.median(lat) / statistics.median(duck), "ratio")
        rep.add(workload, "duckdb.query_p50_ms", statistics.median(duck), "ms")
        rep.add(workload, "query_p50_ms", statistics.median(lat), "ms")
        rep.add(workload, "query_p90_ms", pct(lat, 90), "ms")
        rep.add(workload, "requests", len(lat), "count")
        rep.add(workload, "peak_rss_mb", rss.mb, "MB")
        for who, kb, kb0 in zip(("python", "jvm"), rss.peak_each_kb, rss.start_each_kb):
            rep.add(workload, f"peak_rss_mb.{who}", kb / 1024.0, "MB")
            rep.add(workload, f"start_rss_mb.{who}", kb0 / 1024.0, "MB")
    finally:
        served.close()
        checker.release()


def settle(bench: Bench) -> None:
    """Full GC in both processes before a timed window, so the memory
    peak reflects the window rather than set-up garbage."""
    import gc

    gc.collect()
    bench.spark._jvm.java.lang.System.gc()


def _range_label(req: wl.Request) -> str:
    return f"{(req.hi - req.lo) // (24 * lake.NS_PER_HOUR)}d"


# --- traced pass ----------------------------------------------------------------


def traced(bench: Bench, seconds: float) -> None:
    """Replay each workload untraced, then traced; report self times."""
    os.makedirs(OUT, exist_ok=True)
    for workload in ("wide_scan", "row_export", "live_dashboard"):
        # the read-only workloads share the generated lake; the appending
        # one gets a fresh copy of it
        root = bench.root
        if workload == "live_dashboard":
            root = os.path.join(WORK, "lake-live")
            shutil.copytree(bench.root, root)
        served = Served(bench.spark, root)
        checker = Checker(bench, served)
        tracer = Tracer()
        try:
            if workload == "live_dashboard":
                live = LiveDashboard(bench, served, checker)
                live.warm()
                plain = live.run(seconds / 2, 1, LIVE_RATE)
                undo = instrument(served.engine, tracer)
                try:
                    res = live.run(seconds / 2, 1, LIVE_RATE, tracer)
                finally:
                    undo()
                overhead = statistics.median(res["lat"]) - statistics.median(plain["lat"])
                extra = {"loadgen.late_ms": (pct(res["late"], 90), "ms")}
                spans_w = tracer.spans
                for name in ("metadata_files_rewritten", "bytes_written_per_user_byte"):
                    if live.append_info:
                        extra[f"writer.{name}"] = (
                            statistics.median(a[name] for a in live.append_info),
                            _unit(name),
                        )
                folders = sum(
                    "metadata.json" in names for _, _, names in os.walk(lake.data_dir(served.root))
                )
                print(f"appends live_dashboard folders_after={folders} {live.append_info}", flush=True)
            else:
                rounds = (
                    wide_scan_rounds(bench.spec, bench.seed)[:1]
                    if workload == "wide_scan"
                    else row_export_rounds(bench.spec)[:1]
                )
                loop = ClosedLoop(bench, served, checker, rounds)
                loop.warm()
                plain = loop.run(0)
                undo = instrument(served.engine, tracer)
                try:
                    res_replies = loop.run(0, tracer)
                finally:
                    undo()
                overhead = statistics.median(_ms(res_replies)) - statistics.median(_ms(plain))
                extra = {}
                spans_w = tracer.spans
            layer_metrics(bench, workload, spans_w, checker, overhead, extra)
            tracer.dump(os.path.join(OUT, f"spans-{workload}-seed{bench.seed}.jsonl"))
        finally:
            served.close()
            checker.release()


#: span name → per-layer metric (self time in ms)
SELF_METRICS = {
    "sqlpass.parse": "sqlpass.parse_ms",
    "catalog.find_files": "catalog.find_files_ms",
    "engine.query": "engine.bind_ms",
    "exec": "exec.ms",
    "engine.query_rows": "rows.collect_ms",
    "formats.encode": "formats.encode_ms",
    "arrow_out.normalize": "arrow_out.normalize_ms",
    "flightsql.get_flight_info": "flightsql.get_flight_info_ms",
    "flightsql.do_get": "flightsql.do_get_ms",
    "server.request": "server.self_ms",
    "writer.write_table": "writer.write_table_ms",
}

#: layers whose metrics are reported per edge on row_export
EDGE_LAYERS = ("rows.", "formats.", "arrow_out.", "flightsql.", "server.")


def _unit(metric: str) -> str:
    if metric.endswith("ms"):
        return "ms"
    if metric.endswith(("bytes", "bytes_out")):
        return "bytes"
    return "ratio" if "ratio" in metric or "per_" in metric else "count"


def layer_metrics(bench, workload, spans, checker, overhead, extra) -> None:
    rep = bench.report
    by_rid: dict[str, list] = {}
    for s in spans:
        by_rid.setdefault(s.rid, []).append(s)
    selfs = self_ms_by_request(spans)
    per_req: list[tuple[str, str, dict[str, float]]] = []  # (edge, label, values)
    for rid, ss in by_rid.items():
        root = next((s for s in ss if s.parent is None), None)
        if root is None:
            continue
        vals: dict[str, float] = {}
        if root.name == "writer.write_table":
            vals["writer.write_table_ms"] = root.dur / 1e6
            per_req.append(("writer", "append", vals))
            continue
        for name, metric in SELF_METRICS.items():
            if name in selfs[rid]:
                vals[metric] = selfs[rid][name]
        vals["request.client_ms"] = selfs[rid].get("request", 0.0)
        for s in ss:
            a = s.attrs
            if s.name == "catalog.find_files":
                files = a.pop("files")
                vals["catalog.files_kept"] = len(files)
                vals["catalog.files_total"] = len(checker.served.index.find_files(lake.DB, lake.TABLE))
                vals["catalog.useful_ratio"] = checker.useful_ratio(files, *(a["range"] or (None, None)))
            elif s.name == "engine.query":
                vals["engine.bind_spark_jobs"] = a.get("spark_jobs", 0)
            elif s.name == "exec":
                for k in ("jobs", "stages", "tasks"):
                    vals[f"exec.spark_{k}"] = vals.get(f"exec.spark_{k}", 0) + a.get(f"spark_{k}", 0)
            elif s.name == "formats.encode" and "bytes_out" in a:
                vals["formats.bytes_out"] = a["bytes_out"]
            elif s.name == "server.request":
                vals["server.ttfb_ms"] = a["ttfb_ms"]
                vals["server.transfer_ms"] = a["transfer_ms"]
                vals["server.response_bytes"] = a["response_bytes"]
                if root.attrs.get("edge") == "ndjson":
                    vals["formats.bytes_out"] = a["response_bytes"]
            elif s.name == "flightsql.do_get":
                vals["flightsql.ticket_bytes"] = a["ticket_bytes"]
        vals["request.total_ms"] = root.dur / 1e6
        key = root.attrs.get("key", "")
        per_req.append((root.attrs.get("edge", ""), key.split(":")[0] + ":" + key.split(":")[-1], vals))

    # self time per layer per request kind (printed, not in the JSON)
    kinds: dict[str, list[dict]] = {}
    for edge, label, vals in per_req:
        kinds.setdefault(f"{label}:{edge}", []).append(vals)
    for label, rows in sorted(kinds.items()):
        names = sorted({k for r in rows for k in r if _unit(k) == "ms"})
        cells = " ".join(
            f"{n}={statistics.median(r.get(n, 0.0) for r in rows):.1f}" for n in names
        )
        print(f"selftime {workload} {label} n={len(rows)} {cells}", flush=True)

    def med(metric: str, edge: str | None = None) -> float | None:
        xs = [
            v[metric]
            for e, _, v in per_req
            if metric in v and (edge is None or e == edge)
        ]
        return statistics.median(xs) if xs else None

    metrics = sorted({m for _, _, v in per_req for m in v})
    for m in metrics:
        if workload == "row_export" and m.startswith(EDGE_LAYERS):
            for edge in wl.EXPORT_EDGES:
                v = med(m, edge)
                if v is not None:
                    rep.add(workload, f"{edge}.{m}", v, _unit(m))
        else:
            v = med(m)
            if v is not None:
                rep.add(workload, m, v, _unit(m))
    rep.add(workload, "trace.overhead_ms", overhead, "ms")
    for name, (v, unit) in extra.items():
        rep.add(workload, name, v, unit)


# --- main -------------------------------------------------------------------------


def load_contract() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--days", type=int, default=30, help="lake days (tests use fewer)")
    ap.add_argument("--rows-per-hour", type=int, default=2_100)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "gigapi_querier_spark", "engine.py")):
        print("lakebench: gigapi_querier_spark/ is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    contract = load_contract()
    prepare_env()
    spec = lake.LakeSpec(seed=args.seed, days=args.days, rows_per_hour=args.rows_per_hour)
    bench = Bench(args.seed, args.seconds, spec)
    try:
        bench.setup()
        bench.report.add(args.workload, "setup_s", bench.setup_s, "s")
        if args.trace:
            traced(bench, args.seconds)
            names = [m["name"] for m in contract["per_layer"]]
            metrics = bench.report.pick(names, qualify=True)
        else:
            timed(bench, args.workload)
            names = [m["name"] for m in contract["end_to_end"]]
            metrics = bench.report.pick(names)
        missing = sorted(set(names) - set(metrics))
        if missing:
            print(f"lakebench: metrics not measured: {missing}", file=sys.stderr)
    finally:
        bench.teardown()
        shutil.rmtree(WORK, ignore_errors=True)
    bench.report.add(args.workload, "failed_frac", bench.failed / max(1, bench.attempted), "ratio")
    for f in bench.failures:
        print(f"FAILED {f}", flush=True)
    correct = bench.wrong == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, bench.attempted),
                "failed": bench.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct and not missing else 1


if __name__ == "__main__":
    sys.exit(main())
