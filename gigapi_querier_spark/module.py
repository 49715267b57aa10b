"""Embedded-module mode — reference parity for ``module/init.go:23-55``,
which registers the querier's /query route and FlightSQL server inside the
larger host process when the deployment mode is ``readonly``/``aio``.

Python shape: a host application (its own service, a notebook, an ETL
driver) calls :func:`init` to mount the query engine in-process — sharing
one SparkSession the way the reference shares one DuckDB handle — and gets
back handles to drive or shut it down. No subprocess, no CLI.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from gigapi_querier_spark.engine import QueryEngine

#: modes that serve traffic (module/init.go gates registration the same way)
_SERVING_MODES = ("readonly", "aio")


@dataclass
class Module:
    """Handles returned by :func:`init`; ``shutdown()`` releases servers
    but leaves the host's SparkSession running (the host owns it)."""

    engine: QueryEngine
    httpd: object | None = None
    flight: object | None = None
    _threads: list[threading.Thread] = field(default_factory=list)

    def query(self, sql: str, db: str | None = None):
        """Direct in-process query — the host's programmatic edge
        (reference hosts call the registered route; embedding in Python
        gives a first-class function instead)."""
        return self.engine.query(sql, db)

    def wait(self) -> None:
        """Block until the servers stop (a CLI's foreground)."""
        for t in self._threads:
            t.join()

    def shutdown(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
        if self.flight is not None:
            self.flight.shutdown()
        for t in self._threads:
            t.join(timeout=10)


def init(
    root: str | None,
    mode: str = "readonly",
    spark: SparkSession | None = None,
    http_port: int | None = None,
    flight_port: int | None = None,
    host: str = "0.0.0.0",
) -> Module:
    """Mount the querier inside the calling process.

    - ``mode`` outside ``readonly``/``aio`` → engine only, no servers
      (module/init.go:26-28 skips registration the same way);
    - ``http_port``/``flight_port`` of None skip that frontend;
    - ``spark`` of None builds/joins the shared session;
    - ``root`` of None reads ``GIGAPI_ROOT`` (``QueryEngine``).
    """
    if spark is None:
        from gigapi_querier_spark.session import get_spark

        spark = get_spark(app_name="gigapi-embedded")
    engine = QueryEngine(spark, root=root)
    mod = Module(engine=engine)
    if mode not in _SERVING_MODES:
        return mod

    if http_port is not None:
        from gigapi_querier_spark.server import serve

        mod.httpd = serve(engine, host=host, port=http_port)
        t = threading.Thread(target=mod.httpd.serve_forever, daemon=True)
        t.start()
        mod._threads.append(t)
    if flight_port is not None:
        from gigapi_querier_spark.flightsql import GigapiFlightServer

        mod.flight = GigapiFlightServer(
            engine, location=f"grpc://{host}:{flight_port}"
        )
        t = threading.Thread(target=mod.flight.serve, daemon=True)
        t.start()
        mod._threads.append(t)
    return mod
