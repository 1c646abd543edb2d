"""HTTP serving surface — the reference's REST API, stdlib-only.

The reference serves ``POST /fetch`` (body = SQL text, response =
``List<ColLine>`` JSON) from a Spring Boot controller
(``controller/ParseController.java:18-28``, bootstrap
``ParseApplication.java:6-13``). Same contract here on
``http.server`` — no framework dependency:

- ``POST /fetch``  body = SQL script → JSON list of ColLine dicts
  (target_table, target_column, target_alias, sources, conditions);
  ``/fetch?traverse_views=1`` expands view bodies to base tables
- ``POST /tables`` body = SQL script → {input_tables, output_tables,
  operations}
- ``GET /health``  → {"status": "ok"}

Unlike the reference (which hard-codes its datasource config at
ParseController.java:20-24), the engine is injected. Lineage is
plan-sized work on the driver — a single SparkSession serves all
requests; requests are serialized around the shared session by the
handler lock (Spark's analyzer is driver-side and cheap). Each request
runs on a new thread and so on a new py4j connection; the engine sets
TCP_NODELAY on it (``session._py4j_nodelay``) before any plan crosses
py4j. ``perfbench/run.py --workload lineage_serve`` measures the
service as its callers see it.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def make_server(engine, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) an HTTP server bound to ``engine``. Port 0
    picks a free port; ``server.server_address`` has the real one."""
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (stdlib naming)
            if self.path == "/health":
                self._send(200, {"status": "ok"})
            else:
                self._send(404, {"error": f"unknown path {self.path}"})

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", 0))
            sql = self.rfile.read(n).decode("utf-8")
            from urllib.parse import parse_qs, urlparse
            url = urlparse(self.path)
            path, qs = url.path, parse_qs(url.query)
            try:
                with lock:
                    if path == "/fetch":
                        tv = qs.get("traverse_views", ["0"])[0] in ("1", "true")
                        self._send(200, engine.lineage(sql, traverse_views=tv))
                    elif path == "/tables":
                        # one parse for tables + per-statement operations
                        # (reference Operation enum, common/Operation.java:3-5)
                        self._send(200, engine.tables_report(sql))
                    else:
                        self._send(404, {"error": f"unknown path {self.path}"})
            except Exception as exc:  # mirror reference SQLParseException → 4xx
                self._send(400, {"error": type(exc).__name__, "message": str(exc)})

        def log_message(self, *a):  # keep test output quiet
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve(engine, host: str = "127.0.0.1", port: int = 8080) -> None:
    """Blocking serve loop (the ``ParseApplication.main`` analogue)."""
    server = make_server(engine, host, port)
    try:
        server.serve_forever()
    finally:
        server.server_close()
