"""Tracing for the benchmark's traced runs.

Three sources, all read from the benchmark's own files:

- **Spans** (:class:`Spans`): the benchmark wraps each call it makes into the
  program (a pipeline operation, a registry entry) in a span and tags the
  calling thread with ``sparkContext.setLocalProperty(SPAN_KEY, <span id>)``
  so every Spark job the call submits carries the span id.
- **Spark's event log** (:func:`parse_eventlog`): jobs, tasks, executor CPU,
  GC, shuffle and spill bytes per span id, plus streaming progress events.
  The log is written uncompressed and unrolled (:func:`eventlog_conf`) so it
  is plain JSON lines.
- **/proc** (:func:`group_usage`): CPU and resident memory of the whole
  process group of the system under test — the JVM and its Python workers,
  whose CPU Spark's executor CPU time does not include.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_KEY = "perfbench.span"
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def group_stats(pgid: int):
    """The /proc stat fields, from field 3 (state) on, of every process in
    process group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        if int(fields[2]) == pgid:
            yield fields


def group_usage(pgid: int) -> tuple[float, int]:
    """(CPU ms, resident bytes) summed over the live processes of process
    group ``pgid``. CPU includes reaped children (cutime/cstime), so Python
    workers that already exited still count."""
    cpu_ticks = rss_pages = 0
    for fields in group_stats(pgid):
        cpu_ticks += sum(int(v) for v in fields[11:15])
        rss_pages += int(fields[21])
    return cpu_ticks * 1000 / _TICK, rss_pages * _PAGE


class RssSampler:
    """Peak resident memory of a process group, sampled on a thread."""

    def __init__(self, pgid: int, period_s: float = 0.5):
        self.pgid, self.period_s, self.peak = pgid, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, group_usage(self.pgid)[1])
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class Span:
    op: str
    key: str
    wall_ms: float
    cpu_ms: float
    extra: dict = field(default_factory=dict)


class Spans:
    """In-memory span list. ``traced=False`` records wall time only (the
    untraced runs); ``traced=True`` also tags Spark jobs and samples the
    process group's CPU around each span. Spans may run on several threads
    at once; each tags only its own thread."""

    def __init__(self, spark, traced: bool):
        self.spark, self.traced = spark, traced
        self.spans: list[Span] = []
        self._seq = itertools.count(1)
        self._pgid = os.getpgrp()

    def run(self, op: str, fn, *args):
        """Call ``fn(*args)`` inside a span named ``op``; returns its result
        and the span."""
        key = f"{op}#{next(self._seq)}"
        cpu0 = 0.0
        if self.traced:
            self.spark.sparkContext.setLocalProperty(SPAN_KEY, key)
            cpu0 = group_usage(self._pgid)[0]
        t0 = time.perf_counter()
        try:
            result = fn(*args)
        finally:
            wall_ms = (time.perf_counter() - t0) * 1000
            cpu_ms = 0.0
            if self.traced:
                cpu_ms = group_usage(self._pgid)[0] - cpu0
                self.spark.sparkContext.setLocalProperty(SPAN_KEY, None)
        span = Span(op, key, wall_ms, cpu_ms)
        self.spans.append(span)
        return result, span


@dataclass
class SpanCounters:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    spark_ms: float = 0.0  # union of this span's job intervals
    intervals: list = field(default_factory=list)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


def parse_eventlog(log_dir: str) -> tuple[dict[str, SpanCounters], list[float]]:
    """Counters per span id, and the trigger durations (ms) of every
    streaming micro-batch, from the event logs in ``log_dir``. Jobs without
    a span tag are keyed ``""``."""
    job_span: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_span: dict[int, str] = {}
    out: dict[str, SpanCounters] = defaultdict(SpanCounters)
    triggers: list[float] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_KEY, "")
                    jid = ev["Job ID"]
                    job_span[jid] = span
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_span.setdefault(sid, span)
                    out[span].jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        out[job_span[jid]].intervals.append(
                            (job_start[jid], ev["Completion Time"])
                        )
                elif kind == "SparkListenerTaskEnd":
                    c = out[stage_span.get(ev["Stage ID"], "")]
                    m = ev.get("Task Metrics") or {}
                    c.tasks += 1
                    c.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    c.gc_ms += m.get("JVM GC Time", 0)
                    c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind == PROGRESS_EVENT:
                    duration = (ev.get("progress") or {}).get("durationMs") or {}
                    if "triggerExecution" in duration:
                        triggers.append(float(duration["triggerExecution"]))
    for c in out.values():
        c.spark_ms = _union_ms(c.intervals)
    return dict(out), triggers
