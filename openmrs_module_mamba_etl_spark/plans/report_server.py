"""Minimal HTTP surface for the report service.

The reference serves reports at
``GET <EMR_URL>/openmrs/ws/rest/v1/mamba/report?report_id=...`` with any
declared query params bound from the query string (reference:
README.md:277-307). This module binds :class:`ReportRegistry` to a port
with a stdlib threading HTTP server — no web framework, the engine stays a
library and the server is an optional ~100-line adapter.

Request → response mapping:

- ``GET /ws/rest/v1/mamba/report?report_id=X&p1=v1`` → 200, JSON body
  ``{"report_id": X, "results": [...rows...]}`` (rows exactly as
  ``ReportRegistry.run_json`` serializes them);
- unknown ``report_id`` → 404; missing/undeclared params → 400 with the
  registry's error message; missing ``report_id`` → 400; a ``max_rows``
  that is not a non-negative integer, or that the result exceeds → 400.

Spark note: the driver hosting the SparkSession also hosts this server;
concurrent requests submit concurrent Spark jobs, which the scheduler
interleaves (same property run_per_type relies on). Reports are
interactive aggregates over already-flattened tables, so a request is at
most a short job, not a pipeline run — and none at all when the registry's
answer cache holds it: a repeated request against the same published
snapshot costs only planning (key: the optimized plan plus its input-file
listing; eligible: deterministic plans over file-backed or local
relations; assumed: published files are never rewritten in place — see
``plans/reports.py``).

Every request emits one JSON-lines record through the
``openmrs_module_mamba_etl_spark.plans.report_server`` logger at INFO:
``report_id``, HTTP ``status``, ``cache`` (``hit``/``miss``/``bypass``, or
null when no answer was produced), ``rows`` returned and ``wall_ms``.
Building it adds no Spark job.
"""

from __future__ import annotations

import json
import logging
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlparse

from pyspark.sql import SparkSession

from openmrs_module_mamba_etl_spark.plans.reports import ReportRegistry

REPORT_PATH = "/ws/rest/v1/mamba/report"

log = logging.getLogger(__name__)


def _error(code: int, message: str) -> tuple[int, bytes, None]:
    return code, json.dumps({"error": message}).encode(), None


def _make_handler(spark: SparkSession, registry: ReportRegistry):
    class ReportHandler(BaseHTTPRequestHandler):
        def log_message(self, fmt: str, *args) -> None:  # quiet test runs
            pass

        def _send(self, code: int, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 — BaseHTTPRequestHandler API
            start = time.perf_counter()
            url = urlparse(self.path)
            params = dict(parse_qsl(url.query))
            report_id = params.pop("report_id", None)
            code, body, answer = self._respond(url.path, report_id, params)
            # logged before the reply, so a client that has its answer
            # can already see the record
            log.info(json.dumps({
                "report_id": report_id,
                "status": code,
                "cache": answer.cache if answer else None,
                "rows": answer.rows if answer else 0,
                "wall_ms": round((time.perf_counter() - start) * 1000.0, 3),
            }))
            self._send(code, body)

        def _respond(self, path: str, report_id: str | None, params: dict):
            """(status, body, answer or None) for one request."""
            if path.rstrip("/") != REPORT_PATH:
                return _error(404, f"unknown path {path!r}")
            if report_id is None:
                return _error(400, "report_id query param is required")
            # max_rows is a transport control, not a report param: it caps
            # driver-side materialization (overflow → 400 below).
            raw = params.pop("max_rows", "10000")
            try:
                max_rows = int(raw)
            except ValueError:
                return _error(400, f"max_rows must be an integer, got {raw!r}")
            try:
                answer = registry.answer(
                    spark, report_id, max_rows=max_rows, **params
                )
            except KeyError as e:
                return _error(404, str(e))
            except ValueError as e:
                return _error(400, str(e))
            except Exception as e:  # noqa: BLE001 — transport boundary
                # anything else (a Spark analysis error from a bad report
                # definition, a Py4J failure mid-job) must still produce
                # an HTTP response: unhandled, BaseHTTPRequestHandler
                # closes the socket with no status and the client sees a
                # bare connection reset instead of a diagnosable error
                return _error(500, f"{type(e).__name__}: {e}")
            # the answer is already a JSON array; splice it verbatim
            body = (
                '{"report_id": %s, "results": %s}'
                % (json.dumps(report_id), answer.json)
            ).encode()
            return 200, body, answer

    return ReportHandler


class ReportServer:
    """Threaded HTTP server wrapping a ReportRegistry; context-manager."""

    def __init__(
        self,
        spark: SparkSession,
        registry: ReportRegistry,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self._httpd = ThreadingHTTPServer(
            (host, port), _make_handler(spark, registry)
        )
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._started = False

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}{REPORT_PATH}"

    def start(self) -> "ReportServer":
        self._thread.start()
        self._started = True
        return self

    def stop(self) -> None:
        # shutdown() BLOCKS until a running serve_forever loop acks it —
        # calling it on a never-started server would deadlock the caller
        # (e.g. cleanup after failed setup), so only the socket is closed
        # in that case.
        if self._started:
            self._httpd.shutdown()
        self._httpd.server_close()

    def __enter__(self) -> "ReportServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
