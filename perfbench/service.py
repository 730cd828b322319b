"""The ``service_http`` workload: the reference's REST surface, driven by one
closed-loop client.

The system under test runs in its own process (``python -m
perfbench.service --seed N --work DIR [--traced]``): a session, a durable
``IngestionPipeline`` and ``http_api.make_server`` over that pipeline. It
prints ``PERFBENCH READY {json}`` once set up and serves until a line of
JSON listing the acknowledged ingestions arrives on stdin. A traced run
serves through a :class:`TaggedPipeline` instead, and then calls the
pipeline directly, one call at a time
(:func:`isolated_rounds`). Last, the process checks the service invariants
and prints ``PERFBENCH RESULT {json}``. The client, :func:`drive`, runs in
the benchmark's own process and keeps one ingestion open at a time.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import os
import sys
import threading
import time

from perfbench import gen
from perfbench.env import spark_conf
from perfbench.trace import RssSampler, Spans, eventlog_conf, parse_eventlog

# The reference's priority order and batch size, restated rather than
# imported so that the invariant checks do not take them from the program.
PRIORITY_LEVEL = {"HIGH": 3, "MEDIUM": 2, "LOW": 1}
BATCH_SIZE = 3
MAX_IDS = 3  # ids per client ingestion: 1..3, one batch
PLAN_SIZE = 200  # more ingestions than any run can post
# Traced runs: rounds of ingest, drain and status, each call alone. One, as a
# traced run (an untraced run, then a traced one) already takes about 130 s.
ISOLATED_ROUNDS = 1
MARK = "PERFBENCH "


def plan(seed: int) -> tuple[list[gen.Ingestion], list[gen.Ingestion]]:
    """(set-up ingestions, client ingestions), both from the seed.

    Set-up posts a two-batch LOW ingestion and then a one-batch HIGH one,
    and only then drains: the HIGH batch must overtake both LOW ones, so
    every run checks preemption and chunking."""
    items = gen.service_plan(seed, PLAN_SIZE, MAX_IDS)
    low = [i for item in items[:4] for i in item.ids][: 2 * BATCH_SIZE]
    warm = [gen.Ingestion(tuple(low), "LOW"), gen.Ingestion(items[4].ids, "HIGH")]
    return warm, items[5:]


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
            except OSError:  # removed by a concurrent rename
                continue
            files += 1
    return files, size


class TaggedPipeline:
    """Stands in for ``IngestionPipeline`` behind ``make_server`` in traced
    runs.

    Each call goes straight to the pipeline inside a span
    (:class:`perfbench.trace.Spans`), which tags the Spark jobs of the
    calling thread: HTTP handler threads and the drain thread alike. It
    takes no lock, so calls overlap exactly as they do on the bare
    pipeline, and ``drain_all`` is the pipeline's own loop, in one span.
    """

    def __init__(self, pipeline, spans: Spans):
        self._p, self._spans = pipeline, spans
        self.handler_ms: list[float] = []  # enter->exit per handler call, in order
        self.draining = 0  # drain_all calls running

    def _handle(self, op: str, fn, *args):
        t = time.perf_counter()
        try:
            return self._spans.run(op, fn, *args)[0]
        finally:
            self.handler_ms.append((time.perf_counter() - t) * 1000)

    def ingest(self, ids, priority):
        return self._handle("http:ingest", self._p.ingest, ids, priority)

    def status(self, ingestion_id):
        return self._handle("http:status", self._p.status, ingestion_id)

    def drain_all(self, max_steps: int = 10_000) -> int:
        self.draining += 1  # make_server runs one drain loop at a time
        try:
            return self._spans.run("http:drain_all", self._p.drain_all, max_steps)[0]
        finally:
            self.draining -= 1


def isolated_rounds(pipeline, spans: Spans, state_dir: str, items: list[gen.Ingestion]) -> list[dict]:
    """Ingest each item, drain until the queue is empty and read the status,
    one call at a time, each in a span with the growth of the state
    directory. Nothing else runs meanwhile, so the process group's CPU and
    the files written over a span are that call's own. Returns the
    acknowledged ingestions."""

    def call(op: str, fn, *args):
        before = dir_usage(state_dir)
        result, span = spans.run(op, fn, *args)
        after = dir_usage(state_dir)
        span.extra.update(files=after[0] - before[0], bytes=after[1] - before[1])
        return result, span

    acked = []
    for item in items:
        iid, _ = call("ingest", pipeline.ingest, list(item.ids), item.priority)
        acked.append({"ingestion_id": iid, "ids": list(item.ids), "priority": item.priority})
        while True:
            batch_id, span = call("drain_step", pipeline.drain_step)
            span.extra["drained"] = batch_id is not None
            if batch_id is None:
                break
        call("status", pipeline.status, iid)
    return acked


# -- invariants ---------------------------------------------------------------


def drain_order(state_dir: str) -> list[str]:
    """Batch ids in the order the pipeline triggered them, read from its
    durable ``batch_log`` (batch_id, status, log_seq)."""
    import pyarrow.parquet as pq

    log = pq.read_table(os.path.join(state_dir, "batch_log"), columns=["batch_id", "status", "log_seq"])
    rows = sorted(log.to_pylist(), key=lambda r: r["log_seq"])
    return [r["batch_id"] for r in rows if r["status"] == "triggered"]


def check_service(
    phases: list[list[dict]], statuses: dict, processed: list[tuple], drained: list[str]
) -> dict[str, str]:
    """Ingestion id -> what is wrong with it, for every acknowledged
    ingestion that breaks an invariant:

    - its status is ``completed`` and its batches are its ids chunked by 3;
    - each of its ids was processed exactly once, by the batch holding it;
    - its batches were drained in the order a model of the queue gives:
      (priority DESC, arrival, batch_seq) over the pending batches.

    ``phases`` lists the ingestions ({ingestion_id, ids, priority}) in the
    order they were posted, grouped so that every ingestion of a phase was
    posted before any batch of it was drained, and every earlier phase was
    drained before the phase began: set-up posts two ingestions and then
    drains; the client posts one and waits until it completes. The model's
    order is then each phase's batches sorted by that key, phase after
    phase. ``drained`` is the order the pipeline drained batches in.
    """
    bad: dict[str, str] = {}
    where: dict[str, str] = {}  # batch_id -> ingestion_id
    acked = [a for phase in phases for a in phase]
    for a in acked:
        iid, ids = a["ingestion_id"], list(a["ids"])
        st = statuses.get(iid)
        chunks = [ids[i : i + BATCH_SIZE] for i in range(0, len(ids), BATCH_SIZE)]
        if st is None or st["status"] != "completed":
            bad[iid] = f"status {st and st['status']!r}, expected 'completed'"
            continue
        if [b["ids"] for b in st["batches"]] != chunks or any(
            b["status"] != "completed" for b in st["batches"]
        ):
            bad[iid] = "status batches differ from the ids chunked by 3"
            continue
        for b in st["batches"]:
            where[b["batch_id"]] = iid

    seen: dict[int, list[str]] = {}
    for batch_id, id_ in processed:
        seen.setdefault(id_, []).append(batch_id)
    for a in acked:
        iid = a["ingestion_id"]
        if iid in bad:
            continue
        for chunk in statuses[iid]["batches"]:
            for id_ in chunk["ids"]:
                if seen.get(id_) != [chunk["batch_id"]]:
                    bad[iid] = f"id {id_} processed {len(seen.get(id_, []))} times"

    placed = set(where.values())  # ingestions whose batches are known
    expected: list[str] = []
    arrival = itertools.count()
    for phase in phases:
        queued = []
        for a in phase:
            at, iid = next(arrival), a["ingestion_id"]
            if iid in placed:
                for seq, b in enumerate(statuses[iid]["batches"]):
                    queued.append((-PRIORITY_LEVEL[a["priority"]], at, seq, b["batch_id"]))
        expected += [key[-1] for key in sorted(queued)]
    observed = [b for b in drained if b in where]
    for want, got in itertools.zip_longest(expected, observed):
        if want != got:
            for batch_id in (want, got):
                if batch_id is not None:
                    bad.setdefault(where[batch_id], "batches drained out of queue order")
    return bad


# -- system under test --------------------------------------------------------


def emit(kind: str, payload: dict) -> None:
    sys.stdout.write(f"{MARK}{kind} {json.dumps(payload)}\n")
    sys.stdout.flush()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()

    from data_ingestion_api_system_spark.session import get_spark
    from data_ingestion_api_system_spark.streaming.drain import IngestionPipeline
    from data_ingestion_api_system_spark.streaming.http_api import make_server

    log_dir = os.path.join(a.work, "eventlog")
    state_dir = os.path.join(a.work, "state")
    conf = spark_conf(a.work) | (eventlog_conf(log_dir) if a.traced else {})
    warm, client_plan = plan(a.seed)

    with RssSampler(os.getpgrp()) as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench-service", extra_conf=conf)
        session_s = time.perf_counter() - t0
        pipeline = IngestionPipeline(spark, state_dir)
        warm_acked = [  # warm-up, untimed
            {"ingestion_id": pipeline.ingest(list(w.ids), w.priority), "ids": list(w.ids), "priority": w.priority}
            for w in warm
        ]
        pipeline.drain_all()
        for w in warm_acked:
            pipeline.status(w["ingestion_id"])
        setup_s = time.perf_counter() - t0

        spans = Spans(spark, a.traced)
        proxy = TaggedPipeline(pipeline, spans) if a.traced else None
        server = make_server(proxy or pipeline)
        serving = threading.Thread(target=server.serve_forever, daemon=True)
        serving.start()
        emit("READY", {"port": server.server_address[1], "setup_s": setup_s, "session_s": session_s})
        client_acked = json.loads(sys.stdin.readline())["acked"]
        server.shutdown()
        server.server_close()
        state_files, state_bytes = dir_usage(state_dir)
        ids_ingested = sum(len(x["ids"]) for x in warm_acked + client_acked)
        isolated = []
        if a.traced:
            until = time.monotonic() + 60
            while proxy.draining and time.monotonic() < until:  # the drain thread's last, empty step
                time.sleep(0.05)
            rest = client_plan[len(client_acked) :][:ISOLATED_ROUNDS]
            isolated = isolated_rounds(pipeline, spans, state_dir, rest)
        phases = [warm_acked] + [[x] for x in client_acked + isolated]
        statuses = {x["ingestion_id"]: pipeline.status(x["ingestion_id"]) for p in phases for x in p}
        processed = [(r.batch_id, r.id) for r in pipeline.processed_results().collect()]
        bad = check_service(phases, statuses, processed, drain_order(state_dir))
        compact_s = 0.0
        if a.traced:
            t = time.perf_counter()
            pipeline.compact_log()
            compact_s = time.perf_counter() - t
        spark.stop()

    result = {
        "bad": bad,
        "spans": [[s.op, s.key, s.wall_ms, s.cpu_ms, s.extra] for s in spans.spans],
        "handler_ms": proxy.handler_ms if proxy else [],
        "state_files": state_files,
        "state_bytes": state_bytes,
        "ids_ingested": ids_ingested,
        "compact_s": compact_s,
        "peak_rss_mb": rss.peak / 2**20,
    }
    if a.traced:
        counters, _ = parse_eventlog(log_dir)
        result["counters"] = {
            k: [c.jobs, c.tasks, c.spark_ms] for k, c in counters.items() if k
        }
    emit("RESULT", result)


# -- client -------------------------------------------------------------------


def request(port: int, method: str, path: str, body: dict | None = None) -> tuple[int, dict, float]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    t = time.perf_counter()
    try:
        data = json.dumps(body).encode() if body is not None else None
        conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        payload = json.loads(resp.read() or b"{}")
        return resp.status, payload, time.perf_counter() - t
    finally:
        conn.close()


def drive(port: int, seed: int, n: int, deadline_s: float) -> dict:
    """Closed loop, one request in flight: POST each of the first ``n``
    planned client ingestions, then poll its status with no think time until
    it reads ``completed``, then post the next. An ingestion still open
    ``deadline_s`` after the start is missed, and the loop ends."""
    acked: list[dict] = []
    missed: list[str] = []
    requests: list[tuple[str, float, int]] = []  # (op, seconds, http status)
    completions: list[float] = []
    failed = 0
    t0 = time.perf_counter()
    for item in plan(seed)[1][:n]:
        sent = time.perf_counter()
        code, body, dt = request(port, "POST", "/ingest", {"ids": list(item.ids), "priority": item.priority})
        requests.append(("ingest", dt, code))
        if code != 200:
            failed += 1
            continue
        iid = body["ingestion_id"]
        acked.append({"ingestion_id": iid, "ids": list(item.ids), "priority": item.priority})
        while True:
            if time.perf_counter() - t0 >= deadline_s:
                missed.append(iid)
                break
            code, body, dt = request(port, "GET", f"/status/{iid}")
            requests.append(("status", dt, code))
            if code != 200:
                failed += 1
            elif body["status"] == "completed":
                completions.append(time.perf_counter() - sent)
                break
        if missed:
            break
    return {
        "acked": acked,
        "missed_deadline": missed,
        "requests": requests,
        "completions": completions,
        "failed_requests": failed,
        "elapsed_s": time.perf_counter() - t0,
    }


if __name__ == "__main__":
    main()
