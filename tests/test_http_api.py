"""Black-box HTTP tests mirroring the reference's Supertest style
(test/test_api.js:10-57) against the stdlib shim."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

import pytest

from data_ingestion_api_system_spark.streaming.drain import IngestionPipeline
from data_ingestion_api_system_spark.streaming.http_api import make_server


@pytest.fixture()
def server(spark, tmp_path):
    pipeline = IngestionPipeline(spark, str(tmp_path / "state"), durable=False)
    srv = make_server(pipeline)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(base: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"{base}/ingest",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(base: str, path: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(f"{base}{path}") as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_ingest_then_status_roundtrip(server):
    code, body = _post(server, {"ids": [1, 2, 3, 4, 5], "priority": "MEDIUM"})
    assert code == 200 and "ingestion_id" in body
    code, status = _get(server, f"/status/{body['ingestion_id']}")
    assert code == 200
    assert [b["ids"] for b in status["batches"]] == [[1, 2, 3], [4, 5]]


def test_invalid_body_400(server):
    assert _post(server, {"ids": [1, "a"], "priority": "HIGH"})[0] == 400
    assert _post(server, {"ids": [1], "priority": "URGENT"})[0] == 400
    assert _post(server, {"priority": "HIGH"})[0] == 400


def test_unknown_status_404(server):
    code, body = _get(server, "/status/does-not-exist")
    assert code == 404 and body == {"error": "Ingestion ID not found"}


def test_empty_ids_completed_immediately(server):
    _, body = _post(server, {"ids": [], "priority": "LOW"})
    code, status = _get(server, f"/status/{body['ingestion_id']}")
    assert code == 200 and status["status"] == "completed"


class _GatedPipeline:
    """Stands in for the pipeline behind the shim. ``drain_all`` empties a
    list of ingestion ids; its first call then blocks on ``gate``, which
    holds the shim's drain loop after it found the queue empty and before
    it lets go of its lock."""

    def __init__(self):
        self.queue: list[str] = []
        self.drained: list[str] = []
        self.calls = 0
        self.in_window = threading.Event()
        self.gate = threading.Event()

    def ingest(self, ids, priority) -> str:
        ingestion_id = f"ing-{len(self.queue) + len(self.drained)}"
        self.queue.append(ingestion_id)
        return ingestion_id

    def drain_all(self, max_steps: int = 10_000) -> int:
        n = 0
        while self.queue:
            self.drained.append(self.queue.pop(0))
            n += 1
        self.calls += 1
        if self.calls == 1:
            self.in_window.set()
            self.gate.wait(30)
        return n


def test_ingest_while_drain_exits_is_drained():
    """An ingest that lands after the running drain loop found the queue
    empty, but before that loop released its lock, is drained without
    another POST."""
    pipe = _GatedPipeline()
    srv = make_server(pipe)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        first = _post(base, {"ids": [1], "priority": "LOW"})[1]["ingestion_id"]
        assert pipe.in_window.wait(30)
        running = {t for t in threading.enumerate() if t.name == "drain"}
        second = _post(base, {"ids": [2], "priority": "LOW"})[1]["ingestion_id"]
        # the second POST's drain thread finds the loop running and exits
        for t in threading.enumerate():
            if t.name == "drain" and t not in running:
                t.join(30)
        assert pipe.drained == [first] and pipe.queue == [second]
        pipe.gate.set()
        deadline = time.monotonic() + 10
        while pipe.calls < 2 and time.monotonic() < deadline:
            time.sleep(0.01)
        assert pipe.drained == [first, second]
        assert pipe.calls == 2  # one extra pass for the one missed wake-up
    finally:
        pipe.gate.set()
        srv.shutdown()
        srv.server_close()


class _ListPipeline:
    """A thread-safe queue behind the shim that records how many drain
    loops ran at once. Each loop pauses after finding the queue empty, the
    window in which a wake-up can be lost."""

    def __init__(self):
        self.lock = threading.Lock()
        self.queue: list[str] = []
        self.drained: list[str] = []
        self.active = self.most_active = 0

    def ingest(self, ids, priority) -> str:
        with self.lock:
            ingestion_id = f"ing-{ids[0]}"
            self.queue.append(ingestion_id)
        return ingestion_id

    def drain_all(self, max_steps: int = 10_000) -> int:
        with self.lock:
            self.active += 1
            self.most_active = max(self.most_active, self.active)
        n = 0
        while True:
            with self.lock:
                if not self.queue:
                    break
                self.drained.append(self.queue.pop(0))
            n += 1
        time.sleep(0.02)
        with self.lock:
            self.active -= 1
        return n


def test_concurrent_posts_all_drained_by_one_loop():
    import sys

    pipe = _ListPipeline()
    srv = make_server(pipe)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        def client(k: int) -> None:
            for i in range(5):
                _post(base, {"ids": [k * 5 + i + 1], "priority": "LOW"})

        clients = [threading.Thread(target=client, args=(k,)) for k in range(12)]
        for t in clients:
            t.start()
        for t in clients:
            t.join(60)
            assert not t.is_alive()
        deadline = time.monotonic() + 10
        while len(pipe.drained) < 60 and time.monotonic() < deadline:
            time.sleep(0.01)
    finally:
        sys.setswitchinterval(interval)
        srv.shutdown()
        srv.server_close()
    assert sorted(pipe.drained) == sorted(f"ing-{i}" for i in range(1, 61))
    assert pipe.most_active == 1
