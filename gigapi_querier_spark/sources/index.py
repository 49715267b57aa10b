"""Metadata index backends (reference: github.com/gigapi/metadata — JSON
or Redis backed; selection in querier/queryClient.go:408-433).

``TableIndex`` is the contract the engine prunes through. Two backends
implement it: the filesystem ``Catalog`` (per-folder metadata.json trees,
sources/catalog.py) for ``json``, and ``RedisIndex`` for ``redis``. The
redis client isn't installed in every environment, so ``RedisIndex``
import-gates and raises a clear error at construction when unavailable.
An index may return local paths or ``scheme://`` URIs; the engine binds
either through Spark's Hadoop FileSystem layer.
"""

from __future__ import annotations

from gigapi_querier_spark.plans.sqlpass import TimeRange


class TableIndex:
    """Index contract: list databases/tables, shortlist files by range."""

    def databases(self) -> list[str]:
        raise NotImplementedError

    def tables(self, db: str) -> list[str]:
        raise NotImplementedError

    def find_files(self, db: str, table: str, tr: TimeRange | None = None) -> list[str]:
        raise NotImplementedError

    def covers(self, files: list[str], tr: TimeRange) -> bool:
        """Whether every row of ``files`` is proven to have a non-null
        ``time`` inside ``tr``. False unless the backend can prove it."""
        return False


class RedisIndex(TableIndex):
    """Redis-backed index (reference metadata type "redis").

    Layout: hash per table at ``{prefix}:{db}:{table}`` mapping file path →
    JSON ``{"min_time": ns, "max_time": ns, "size_bytes": n, "row_count": n}``,
    plus sets ``{prefix}:databases`` and ``{prefix}:{db}:tables``.
    """

    def __init__(self, url: str = "", prefix: str = "gigapi", client=None):
        """``client`` injects any object with ``smembers``/``hgetall``
        (tests use an in-memory fake; production passes nothing and the
        redis-py client is built from ``url``)."""
        if client is not None:
            self._r = client
        else:
            try:
                import redis
            except ImportError as e:  # pragma: no cover - environment-dependent
                raise RuntimeError(
                    "redis-py is not installed; use the JSON metadata index or "
                    "install redis to enable the Redis backend"
                ) from e

            self._r = redis.Redis.from_url(url, decode_responses=True)
        self._prefix = prefix

    def databases(self) -> list[str]:
        return sorted(self._r.smembers(f"{self._prefix}:databases"))

    def tables(self, db: str) -> list[str]:
        return sorted(self._r.smembers(f"{self._prefix}:{db}:tables"))

    def find_files(self, db: str, table: str, tr: TimeRange | None = None) -> list[str]:
        import json

        tr = tr or TimeRange()
        entries = self._r.hgetall(f"{self._prefix}:{db}:{table}")
        out = []
        for path, meta_json in entries.items():
            try:
                meta = json.loads(meta_json)
            except json.JSONDecodeError:
                continue
            min_t, max_t = meta.get("min_time"), meta.get("max_time")
            if tr.start is not None and max_t is not None and max_t < tr.start:
                continue
            if tr.end is not None and min_t is not None and min_t > tr.end:
                continue
            out.append(path)
        return sorted(out)


def index_from_env(root: str) -> TableIndex:
    """Resolve the metadata backend the way the reference does
    (queryClient.go:408-433): ``GIGAPI_METADATA_TYPE`` selects json
    (default, filesystem metadata.json trees under ``root``) or redis
    (``GIGAPI_METADATA_URL`` = redis:// URL). Any other value is a
    ValueError rather than a silent fall back to json."""
    import os

    # imported here: catalog.py imports TableIndex from this module
    from gigapi_querier_spark.sources.catalog import Catalog

    kind = os.environ.get("GIGAPI_METADATA_TYPE", "json").lower()
    if kind == "json":
        return Catalog(root)
    if kind == "redis":
        return RedisIndex(os.environ.get("GIGAPI_METADATA_URL", ""))
    raise ValueError(f"unknown metadata index type: {kind!r}")
