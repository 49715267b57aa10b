"""Path-convention catalog + time-range file pruning.

Physical layout (reference SURVEY.md §1.2):

    {root}/{db}/{table}/data/date=YYYY-MM-DD/hour=HH/*.parquet
                        + per-folder metadata.json
                        + tmp/, _temporary/, .hidden/ dirs holding no
                          committed data (skipped, ``is_staging_dir``)

This is the engine-side counterpart of the reference's catalog layer:
- metadata.json schema            → querier/queryClient.go:340-356
- folder/file min-max pruning     → :358-391
- full-scan discovery w/ tmp skip → :476-539
- date=/hour= dir pruning         → :542-648
- SHOW DATABASES / SHOW TABLES    → :727-764

Spark-first division of labor: this module only *lists files* (pure
Python, no Spark); the pruned list feeds ``spark.read.parquet(*files)``
where Catalyst adds row-group min/max skipping and column pruning on top.
At cluster scale the listing consults an index (this catalog is the JSON
one; sources/index.py also has Redis, as the reference does) rather than
statting 100 TB of objects.

Each folder's parsed metadata.json is kept, keyed on the file's
``(st_ino, st_mtime_ns, st_size)``: a query stats a metadata file instead
of re-parsing it, and a file replaced by the writer's atomic rename
misses. The same entries answer ``covers``: whether every kept file is
proven to hold only rows with a non-null ``time`` inside the query's
range, in which case the engine drops the ``time`` conjuncts Spark would
otherwise re-check per row group.

Divergence (documented): one-sided time ranges prune here; the reference
only prunes when both bounds are present (queryClient.go:370).
"""

from __future__ import annotations

import functools
import json
import os
import re
from datetime import datetime, timezone

from gigapi_querier_spark.plans.sqlpass import NS_PER_S, TimeRange
from gigapi_querier_spark.sources.index import TableIndex

_DATE_DIR = re.compile(r"^date=(.+)$")
_HOUR_DIR = re.compile(r"^hour=(\d+)$")


def is_staging_dir(name: str) -> bool:
    """A directory below a table root that holds no committed data:
    ``tmp/`` (half-written files, reference :496-499) or a Hadoop hidden
    path — a name starting with ``_`` or ``.``, e.g. the ``_temporary/``
    staging tree of an in-flight Spark write. Applied only below the table
    root, never to db or table names."""
    return name == "tmp" or name.startswith(("_", "."))


def _overlaps(tr: TimeRange, min_time: int | None, max_time: int | None) -> bool:
    """Inclusive [min,max] overlap vs the query range; missing stats or
    missing bounds never exclude a file."""
    if min_time is None or max_time is None:
        return True
    if tr.start is not None and max_time < tr.start:
        return False
    if tr.end is not None and min_time > tr.end:
        return False
    return True


class Catalog(TableIndex):
    """Filesystem catalog rooted at ``{root}/{db}/{table}``: the ``json``
    metadata index (``index_from_env``)."""

    def __init__(self, root: str):
        self.root = root
        # folder → (metadata.json (st_ino, st_mtime_ns, st_size), parsed
        # metadata or None when unparseable). One entry per folder seen.
        self._meta: dict[str, tuple[tuple[int, int, int], dict | None]] = {}

    # -- namespace listing (A12/A13) ------------------------------------

    def databases(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d)) and not d.startswith(".")
        )

    def tables(self, db: str) -> list[str]:
        base = os.path.join(self.root, db)
        if not os.path.isdir(base):
            return []
        return sorted(
            d
            for d in os.listdir(base)
            if os.path.isdir(os.path.join(base, d)) and not d.startswith(".")
        )

    # -- file discovery + pruning (A3-A7) --------------------------------

    def find_files(self, db: str, table: str, tr: TimeRange | None = None) -> list[str]:
        """All parquet files for a table overlapping the time range.

        Walks the tree; honors per-folder metadata.json (folder rollup
        then per-file min/max; parsed once per version of the file),
        prunes date=/hour= partition dirs from the range, skips staging
        dirs, and drops stale entries whose files no longer exist.
        """
        tr = tr or TimeRange()
        base = os.path.join(self.root, db, table)
        if not os.path.isdir(base):
            return []
        out: list[str] = []
        self._walk(base, tr, out)
        return sorted(out)

    def _walk(self, path: str, tr: TimeRange, out: list[str]) -> None:
        name = os.path.basename(path)
        m = _DATE_DIR.match(name)
        if m and not self._date_in_range(m.group(1), tr):
            return
        m = _HOUR_DIR.match(name)
        if m and not self._hour_in_range(path, int(m.group(1)), tr):
            return

        kept = self._prune_folder(path, tr)
        if kept is not None:
            out.extend(kept)
            return  # metadata is authoritative for this folder (reference :530)

        try:
            entries = sorted(os.listdir(path))
        except OSError:
            return
        for e in entries:
            sub = os.path.join(path, e)
            if os.path.isdir(sub):
                if not is_staging_dir(e):
                    self._walk(sub, tr, out)
            elif e.endswith(".parquet"):
                out.append(sub)

    def _folder_meta(self, folder: str) -> dict | None:
        """The folder's parsed metadata.json, or None when it is absent or
        not a JSON object. Parsed once per version of the file: a hit
        costs one ``stat``. A stat/open race with the writer's rename can
        only store a newer parse under an older key, which the next call
        re-parses."""
        meta_path = os.path.join(folder, "metadata.json")
        try:
            st = os.stat(meta_path)
        except OSError:
            self._meta.pop(folder, None)
            return None
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        hit = self._meta.get(folder)
        if hit is None or hit[0] != key:
            try:
                with open(meta_path) as f:
                    meta = json.load(f)
            except (OSError, ValueError):
                meta = None
            hit = (key, meta if isinstance(meta, dict) else None)
            self._meta[folder] = hit
        return hit[1]

    def _prune_folder(self, folder: str, tr: TimeRange) -> list[str] | None:
        """metadata.json folder: rollup check, then per-file overlap +
        existence (reference enumFolderWithMetadata, :358-391). None when
        the metadata is absent or unparseable: the caller lists the folder."""
        meta = self._folder_meta(folder)
        if meta is None:
            return None
        if not _overlaps(tr, meta.get("min_time"), meta.get("max_time")):
            return []
        res = []
        for fe in meta.get("files", []):
            if not _overlaps(tr, fe.get("min_time"), fe.get("max_time")):
                continue
            p = fe.get("path", "")
            if not os.path.isabs(p):
                p = os.path.join(folder, p)
            if not os.path.isfile(p):
                # stale-entry tolerance: also try basename next to the
                # metadata file (reference :508-517)
                alt = os.path.join(folder, os.path.basename(p))
                if not os.path.isfile(alt):
                    continue
                p = alt
            res.append(p)
        return res

    def covers(self, files: list[str], tr: TimeRange) -> bool:
        """True when the metadata ``find_files`` read proves that every row
        of ``files`` has a non-null ``time`` inside ``tr``: each file is
        listed in its folder's metadata.json with ``time_null_count`` 0,
        the bounds of ``tr`` that are present hold for its
        ``min_time``/``max_time``, and on disk it still has the catalogued
        size and is no newer than that metadata file. Anything unknown
        answers False. Answered from the cache without re-reading the
        metadata: a file replaced since is newer than the cached version."""
        for f in files:
            folder, name = os.path.split(f)
            hit = self._meta.get(folder)
            if hit is None or hit[1] is None:
                return False
            (_, mtime_ns, _), meta = hit
            fe = next(
                (e for e in meta.get("files", []) if os.path.basename(e.get("path", "")) == name),
                None,
            )
            if fe is None or fe.get("time_null_count") != 0:
                return False
            lo, hi = fe.get("min_time"), fe.get("max_time")
            if tr.start is not None and (lo is None or lo < tr.start):
                return False
            if tr.end is not None and (hi is None or hi > tr.end):
                return False
            try:
                st = os.stat(f)
            except OSError:
                return False
            if st.st_size != fe.get("size_bytes") or st.st_mtime_ns > mtime_ns:
                return False
        return True

    # -- hive partition-dir pruning (A5/A6) -------------------------------

    @staticmethod
    def _date_in_range(date_str: str, tr: TimeRange) -> bool:
        day = _day_start_s(date_str)
        if day is None:
            return True  # unparseable dirs are never pruned
        return _overlaps(tr, day * NS_PER_S, (day + 86_400) * NS_PER_S - 1)

    def _hour_in_range(self, path: str, hour: int, tr: TimeRange) -> bool:
        # hour dirs only constrain within their date dir
        parent = os.path.basename(os.path.dirname(path))
        m = _DATE_DIR.match(parent)
        day = _day_start_s(m.group(1)) if m else None
        if day is None:
            return True
        h_start = (day + hour * 3600) * NS_PER_S
        return _overlaps(tr, h_start, h_start + 3600 * NS_PER_S - 1)


@functools.lru_cache(maxsize=4096)
def _day_start_s(date_str: str) -> int | None:
    """Epoch seconds of a ``YYYY-MM-DD`` UTC day, None when unparseable.
    Cached: every hour dir of a day asks again on every query."""
    try:
        day = datetime.strptime(date_str, "%Y-%m-%d").replace(tzinfo=timezone.utc)
    except ValueError:
        return None
    return int(day.timestamp())
