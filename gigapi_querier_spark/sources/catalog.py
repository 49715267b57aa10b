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
At cluster scale the listing consults an index (JSON here; the reference
also supports Redis) rather than statting 100 TB of objects.

Divergence (documented): one-sided time ranges prune here; the reference
only prunes when both bounds are present (queryClient.go:370).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from datetime import datetime, timezone

from gigapi_querier_spark.plans.sqlpass import NS_PER_S, TimeRange

_DATE_DIR = re.compile(r"^date=(.+)$")
_HOUR_DIR = re.compile(r"^hour=(\d+)$")


def is_staging_dir(name: str) -> bool:
    """A directory below a table root that holds no committed data:
    ``tmp/`` (half-written files, reference :496-499) or a Hadoop hidden
    path — a name starting with ``_`` or ``.``, e.g. the ``_temporary/``
    staging tree of an in-flight Spark write. Applied only below the table
    root, never to db or table names."""
    return name == "tmp" or name.startswith(("_", "."))


@dataclass(frozen=True)
class FileEntry:
    """A catalogued parquet file (reference: ParquetFile + IndexEntry)."""

    path: str
    size_bytes: int = 0
    row_count: int = 0
    min_time: int | None = None
    max_time: int | None = None


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


class Catalog:
    """Filesystem catalog rooted at ``{root}/{db}/{table}``."""

    def __init__(self, root: str):
        self.root = root

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
        then per-file min/max), prunes date=/hour= partition dirs from
        the range, skips staging dirs, and drops stale entries whose files
        no longer exist.
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

        kept = self._prune_metadata(os.path.join(path, "metadata.json"), tr)
        if kept is not None:
            out.extend(e.path for e in kept)
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

    def _prune_metadata(self, meta_path: str, tr: TimeRange) -> list[FileEntry] | None:
        """metadata.json folder: rollup check, then per-file overlap +
        existence (reference enumFolderWithMetadata, :358-391). None when
        the file is absent or unparseable: the caller lists the folder."""
        try:
            with open(meta_path) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            return None
        if not isinstance(meta, dict):
            return None
        if not _overlaps(tr, meta.get("min_time"), meta.get("max_time")):
            return []
        folder = os.path.dirname(meta_path)
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
            res.append(
                FileEntry(
                    path=p,
                    size_bytes=fe.get("size_bytes", 0),
                    row_count=fe.get("row_count", 0),
                    min_time=fe.get("min_time"),
                    max_time=fe.get("max_time"),
                )
            )
        return res

    # -- hive partition-dir pruning (A5/A6) -------------------------------

    @staticmethod
    def _date_in_range(date_str: str, tr: TimeRange) -> bool:
        try:
            day = datetime.strptime(date_str, "%Y-%m-%d").replace(tzinfo=timezone.utc)
        except ValueError:
            return True  # unparseable dirs are never pruned
        day_start = int(day.timestamp()) * NS_PER_S
        day_end = day_start + 86_400 * NS_PER_S - 1
        return _overlaps(tr, day_start, day_end)

    def _hour_in_range(self, path: str, hour: int, tr: TimeRange) -> bool:
        # hour dirs only constrain within their date dir
        parent = os.path.basename(os.path.dirname(path))
        m = _DATE_DIR.match(parent)
        if not m:
            return True
        try:
            day = datetime.strptime(m.group(1), "%Y-%m-%d").replace(tzinfo=timezone.utc)
        except ValueError:
            return True
        h_start = (int(day.timestamp()) + hour * 3600) * NS_PER_S
        h_end = h_start + 3600 * NS_PER_S - 1
        return _overlaps(tr, h_start, h_end)
