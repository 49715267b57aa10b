"""In-memory spans recorded around calls into the program's layers.

A span is (id, parent, request id, name, start_ns, end_ns, attrs). Spans
are kept in a list and written out as JSON lines when the traced pass
ends. A layer's self time is its span's duration minus the part of that
interval its child spans cover.

``instrument`` installs the wrappers for the traced pass and returns a
function that removes them. It wraps the engine *instance* (its index,
``query`` and ``query_rows``) and two encoder names the handlers look up
at call time (``server.json_format``, ``server.transform_value``) plus
``arrow_out.normalize_arrow``; no program file changes.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    rid: str | None
    name: str
    start: int
    end: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> int:
        return self.end - self.start


class Tracer:
    """Thread-aware span recorder.

    Spans nest by a per-thread stack. A span opened on a thread with an
    empty stack (an HTTP handler or Flight RPC thread serving the request
    the client opened) takes the client's current request span as its
    parent; the traced pass sends one query at a time, so that link is
    unambiguous.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.current: Span | None = None  # open request span of the query client

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: str | None = None, root: bool = False, **attrs):
        st = self._stack()
        parent = st[-1] if st else (None if root else self.current)
        s = Span(
            next(self._ids),
            parent.sid if parent else None,
            rid if rid is not None else (parent.rid if parent else None),
            name,
            time.perf_counter_ns(),
            attrs=dict(attrs),
        )
        st.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter_ns()
            st.pop()
            with self._lock:
                self.spans.append(s)

    def add(self, name: str, start: int, end: int, parent: Span, **attrs) -> None:
        """Record a span measured elsewhere (busy time of an iterator)."""
        with self._lock:
            self.spans.append(
                Span(next(self._ids), parent.sid, parent.rid, name, start, end, dict(attrs))
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "parent": s.parent,
                            "rid": s.rid,
                            "name": s.name,
                            "start_ns": s.start,
                            "end_ns": s.end,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


def covered(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, int]:
    """Span id → self time in ns (duration minus child-covered time)."""
    children: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - covered(children.get(s.sid, []), s.start, s.end) for s in spans
    }


def self_ms_by_request(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Request id → {span name: summed self time in ms}."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if s.rid is None:
            continue
        per = out.setdefault(s.rid, {})
        per[s.name] = per.get(s.name, 0.0) + st[s.sid] / 1e6
    return out


# --- wrappers installed for the traced pass --------------------------------


class _TracedIndex:
    """Wraps the engine's TableIndex: one span per ``find_files``."""

    def __init__(self, inner, tracer: Tracer):
        self._inner, self._tracer = inner, tracer

    def find_files(self, db, table, tr=None):
        with self._tracer.span("catalog.find_files") as s:
            files = self._inner.find_files(db, table, tr)
        s.attrs.update(files_kept=len(files), files=files, range=(tr.start, tr.end) if tr else None)
        return files

    def __getattr__(self, name):
        return getattr(self._inner, name)


class _JobGroup:
    """Counts Spark jobs/stages/tasks launched inside a block on this
    thread, via ``setJobGroup`` and the status tracker."""

    _seq = itertools.count()

    def __init__(self, spark):
        self.sc = spark.sparkContext

    @contextmanager
    def count(self, attrs: dict, prefix: str):
        gid = f"lakebench-{next(self._seq)}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = tracker.getStageInfo(sid)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            attrs[f"{prefix}jobs"] = len(jobs)
            attrs[f"{prefix}stages"] = stages
            attrs[f"{prefix}tasks"] = tasks


class _TracedFrame:
    """Wraps a returned DataFrame: its actions are the ``exec`` span."""

    def __init__(self, df, tracer: Tracer, jobs: _JobGroup, take_encode_ns):
        self._df, self._tracer, self._jobs = df, tracer, jobs
        self._take_encode_ns = take_encode_ns

    def _action(self, name, *args):
        with self._tracer.span("exec") as s, self._jobs.count(s.attrs, "spark_"):
            return getattr(self._df, name)(*args)

    def take(self, n):
        return self._action("take", n)

    def collect(self):
        return self._action("collect")

    def toArrow(self):
        return self._action("toArrow")

    def toLocalIterator(self, *args):
        """ndjson fetches and encodes row by row: the iterator's busy time
        and the handler's per-value encode time become one ``exec`` and
        one ``formats.encode`` span, packed in that order at the start of
        the stream."""
        tracer = self._tracer
        parent = tracer._stack()[-1] if tracer._stack() else tracer.current
        t_first = time.perf_counter_ns()
        it = self._df.toLocalIterator(*args)
        self._take_encode_ns()

        def gen():
            busy = time.perf_counter_ns() - t_first
            try:
                while True:
                    t0 = time.perf_counter_ns()
                    try:
                        row = next(it)
                    except StopIteration:
                        return
                    finally:
                        busy += time.perf_counter_ns() - t0
                    yield row
            finally:
                if parent is not None:
                    enc = self._take_encode_ns()
                    tracer.add("exec", t_first, t_first + busy, parent)
                    tracer.add(
                        "formats.encode", t_first + busy, t_first + busy + enc, parent
                    )

        return gen()

    def __getattr__(self, name):
        return getattr(self._df, name)


def instrument(engine, tracer: Tracer):
    """Install the traced-pass wrappers; returns the function that undoes
    them."""
    from gigapi_querier_spark import arrow_out, server

    jobs = _JobGroup(engine.spark)
    orig_query, orig_rows = engine.query, engine.query_rows
    orig_catalog = engine.catalog
    orig_json, orig_tv = server.json_format, server.transform_value
    orig_norm = arrow_out.normalize_arrow
    encode_ns = threading.local()

    def take_encode_ns() -> int:
        """Per-value encode time this thread accumulated since the last
        call (the ndjson handler encodes inline, row by row)."""
        total = getattr(encode_ns, "total", 0)
        encode_ns.total = 0
        return total

    def query(sql, db=None):
        with tracer.span("engine.query") as s, jobs.count(s.attrs, "spark_"):
            df = orig_query(sql, db)
        return _TracedFrame(df, tracer, jobs, take_encode_ns)

    def query_rows(sql, db=None, max_rows=None):
        with tracer.span("engine.query_rows"):
            return orig_rows(sql, db, max_rows)

    def json_format(rows):
        with tracer.span("formats.encode") as s:
            out = orig_json(rows)
        s.attrs["bytes_out"] = len(out)
        return out

    def transform_value(v):
        t0 = time.perf_counter_ns()
        try:
            return orig_tv(v)
        finally:
            encode_ns.total = getattr(encode_ns, "total", 0) + time.perf_counter_ns() - t0

    def normalize_arrow(table):
        with tracer.span("arrow_out.normalize"):
            return orig_norm(table)

    engine.catalog = _TracedIndex(orig_catalog, tracer)
    engine.query, engine.query_rows = query, query_rows
    server.json_format, server.transform_value = json_format, transform_value
    arrow_out.normalize_arrow = normalize_arrow

    def undo():
        engine.catalog = orig_catalog
        del engine.query, engine.query_rows  # back to the class methods
        server.json_format, server.transform_value = orig_json, orig_tv
        arrow_out.normalize_arrow = orig_norm

    return undo
