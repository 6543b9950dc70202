"""HTTP request-serving front end (SURVEY §3.3, reference
src/runtime/functions/source/request_source.rs:33-67 — an axum server that
turns POST JSON into a request batch, routes it through the request-mode
dataflow, and answers from the paired request sink).

Spark-first restatement: a stdlib ``http.server`` wrapper over
``FeatureService``. Each POST body is one request batch; the handler runs
the point-in-time lookup DataFrame job and returns the feature rows as
JSON. No new dependencies; the server runs on a daemon thread so tests and
notebooks can start/stop it inline. ``JsonPostServer`` is that server core;
``api/search.SearchServer`` is its other route.

POST /features
  {"requests": [{"request_id": 1, "<key>": ..., "<ts>": "ISO-8601 or epoch-ms"}, ...]}
→ 200 {"features": [{"request_id": 1, ...aggregates...}, ...]}

Latency: one Spark job per batch (the reference likewise pays one dataflow
traversal per request batch; its request_timeout_ms maps to the HTTP
client's timeout). Sub-ms single-row serving is out of scope (SURVEY §2.10)
— point-in-time correctness is the contract, asserted equal to
``point_in_time_lookup`` in tests/test_serving_http.py.
"""

from __future__ import annotations

import json
import logging
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from volga_spark.operators.request import FeatureService

_log = logging.getLogger(__name__)


def _parse_ts(v):
    """Accept ISO-8601 strings or epoch millis; return naive-UTC datetime
    (matches the parquet timestamp columns, which are timezone-less)."""
    if isinstance(v, (int, float)):
        return datetime.fromtimestamp(v / 1000.0, tz=timezone.utc).replace(tzinfo=None)
    dt = datetime.fromisoformat(str(v))
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def _jsonable(v):
    if isinstance(v, datetime):
        return v.isoformat()
    return v


class JsonPostServer:
    """One JSON-over-POST route on a stdlib ``ThreadingHTTPServer`` bound
    to localhost:port (0 = ephemeral), served from a daemon thread. A
    subclass sets ``route`` and implements ``handle(body) -> dict``.

    Replies: 200 with ``handle``'s dict; 400 ``{"error": ...}`` for a bad
    request (``KeyError``, ``ValueError`` — ``JSONDecodeError`` included —
    and ``TypeError`` raised while parsing or handling it); 500
    ``{"error": ...}`` for any other failure (a Spark error, a service
    bug); 404 for any other path."""

    route: str

    def __init__(self, port: int = 0):
        route, handle = self.route, self.handle

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test runs
                pass

            def do_POST(self) -> None:
                if self.path.rstrip("/") != route:
                    self.send_error(404)
                    return
                status = 200
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    payload = handle(json.loads(self.rfile.read(n) or b"{}"))
                except (KeyError, ValueError, TypeError) as ex:
                    status, payload = 400, {"error": str(ex)}
                except Exception as ex:  # noqa: BLE001 — HTTP boundary
                    _log.exception("POST %s failed", route)
                    status, payload = 500, {"error": str(ex)}
                msg = json.dumps(payload, default=str).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(msg)))
                self.end_headers()
                self.wfile.write(msg)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def handle(self, body: dict) -> dict:
        raise NotImplementedError

    def start(self):
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


class FeatureServer(JsonPostServer):
    """Serve a FeatureService over HTTP on localhost:port (0 = ephemeral)."""

    route = "/features"

    def __init__(self, spark, service: FeatureService, port: int = 0):
        self.spark = spark
        self.service = service
        super().__init__(port)

    def handle(self, body: dict) -> dict:
        # point-in-time services take (keys, ts); latest-value services
        # (OnlineStore) declare their own request columns without a
        # timestamp
        cols = getattr(self.service, "request_columns", None) or [
            "request_id",
            *self.service.key_cols,
            self.service.ts_col,
        ]
        ts_col = getattr(self.service, "ts_col", None)
        points = [
            tuple(_parse_ts(r[c]) if c == ts_col and c in r else r[c] for c in cols)
            for r in body["requests"]
        ]
        rows = self.service.get_features(self.spark, points)
        return {"features": [{k: _jsonable(v) for k, v in r.items()} for r in rows]}
