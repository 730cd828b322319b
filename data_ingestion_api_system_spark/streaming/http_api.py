"""HTTP parity shim: the reference's two REST routes (src/app.js:106,158)
over the library pipeline, using only the stdlib.

- ``POST /ingest``   {ids:[...], priority:"HIGH|MEDIUM|LOW"} →
  202-style {"ingestion_id": ...}; invalid body → 400 {"error":"Invalid
  input"} (src/app.js:115).
- ``GET /status/<id>`` → {ingestion_id, status, batches:[...]};
  unknown id → 404 {"error":"Ingestion ID not found"} (src/app.js:162).

Ingest triggers the drain loop fire-and-forget on a worker thread —
the async boundary the reference creates with an un-awaited
``processBatches()`` (src/app.js:152). A lock serializes drains (A13), and
a pending flag keeps an ingest that arrives while a drain is finishing
from waiting for the next POST.
The library API (drain.IngestionPipeline) stays the primary surface; this
shim exists for black-box route-level parity testing.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .drain import IngestionPipeline, InvalidRequest, NotFound


def make_server(pipeline: IngestionPipeline, port: int = 0) -> ThreadingHTTPServer:
    drain_lock = threading.Lock()
    work_pending = threading.Event()

    def drain_async() -> None:
        def run() -> None:
            # A13: one drain loop at a time. A thread that finds the loop
            # running leaves its wake-up in ``work_pending``; the loop
            # re-checks it after releasing the lock, so an ingest that lands
            # after the loop's last dequeue is still drained.
            work_pending.set()
            while work_pending.is_set() and drain_lock.acquire(blocking=False):
                try:
                    work_pending.clear()
                    pipeline.drain_all()
                finally:
                    drain_lock.release()

        threading.Thread(target=run, name="drain", daemon=True).start()

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self) -> None:  # noqa: N802
            if self.path != "/ingest":
                return self._reply(404, {"error": "Not found"})
            try:
                length = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(length) or b"{}")
                ingestion_id = pipeline.ingest(
                    req.get("ids"), req.get("priority")
                )
            except (InvalidRequest, TypeError, ValueError, json.JSONDecodeError):
                return self._reply(400, {"error": "Invalid input"})
            drain_async()
            # Reference parity: app.js:154 replies via res.json() → 200
            # (its test_api.js asserts statusCode 200, not 201).
            self._reply(200, {"ingestion_id": ingestion_id})

        def do_GET(self) -> None:  # noqa: N802
            if not self.path.startswith("/status/"):
                return self._reply(404, {"error": "Not found"})
            ingestion_id = self.path[len("/status/"):]
            try:
                self._reply(200, pipeline.status(ingestion_id))
            except NotFound:
                self._reply(404, {"error": "Ingestion ID not found"})

        def log_message(self, *args) -> None:  # silence request logging
            pass

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)
