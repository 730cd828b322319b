"""One benchmark run: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1``, from the root of a checkout.

Workloads (see README.md): ``service_http`` and ``analytics_mix``. Each
runs in processes of its own (:mod:`perfbench.service`,
:mod:`perfbench.analytics`), started in a new process group that is killed
and waited for before this exits. With ``--trace 0`` the run is untraced and
reports the end-to-end metrics; with ``--trace 1`` it runs the workload
traced and reports the per-layer metrics, with ``trace.overhead_pct``: the
relative difference of ``complete_s`` from an untraced run with the same
seed and seconds, made first within the same traced run.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything before it is a
human-readable report. Exit status 2 means the run could not be made (no
program in the checkout, or a process of the system under test died).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from statistics import fmean

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import analytics, env, service  # noqa: E402
from perfbench.stats import median_or_zero, summary  # noqa: E402
from perfbench.trace import group_stats  # noqa: E402

WORKLOADS = ("service_http", "analytics_mix")
END_TO_END = {"setup_s": "s", "complete_s": "s", "throughput_per_s": "1/s"}
DRAIN_OPS = ("ingest", "status", "drain_step")
DRAIN_FIELDS = ("wall_ms_p50", "jobs", "tasks", "spark_ms", "driver_ms", "cpu_ms", "files_written", "bytes_written")
FAMILY_FIELDS = (
    "jobs", "tasks", "executor_cpu_ms", "cpu_ms", "gc_ms", "shuffle_bytes",
    "spill_bytes", "driver_ms", "wall_ms",
)
# Client ingestions: one per SERVICE_CYCLE_S of --seconds. A fixed count,
# not a deadline, so every run measures the same work; an ingestion takes
# about SERVICE_CYCLE_S on a 4-vCPU box.
SERVICE_CYCLE_S = 5.0
SERVICE_DEADLINE_S = 60  # beyond --seconds, for the ingestions to complete
RUN_LIMIT_S = 175  # one run, all its phases included, ends within this


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "tables.warm_s": "s",
        "proc.peak_rss_mb": "MB",
        "http_api.requests": "count",
        "http_api.non2xx": "count",
        "http_api.shim_ms_p50": "ms",
        "http_api.ingest_ms_p50": "ms",
        "http_api.status_ms_p50": "ms",
    }
    for op in DRAIN_OPS:
        for f in DRAIN_FIELDS:
            units[f"drain.{op}.{f}"] = "ms" if "ms" in f else ("bytes" if "bytes" in f else "count")
    units.update(
        {
            "drain.state_files": "count",
            "drain.state_bytes": "bytes",
            "drain.bytes_per_id": "bytes",
            "drain.compact_s": "s",
        }
    )
    for fam in analytics.FAMILIES:
        for f in FAMILY_FIELDS:
            units[f"operators.{fam}.{f}"] = "ms" if f.endswith("_ms") else ("bytes" if "bytes" in f else "count")
    units["operators.query_total_s"] = "s"
    for name in analytics.ENTRIES:
        units[f"query.{name}_s"] = "s"
    units.update(
        {
            "streaming.micro_batches": "count",
            "streaming.trigger_ms_p50": "ms",
            "trace.overhead_pct": "%",
        }
    )
    return units


# -- processes ----------------------------------------------------------------


def reap(proc: subprocess.Popen, timeout: float) -> None:
    """Give ``proc`` ``timeout`` seconds to exit, then stop it and
    everything in its process group, and wait until all of it has ended."""
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    until = time.monotonic() + 30
    while any(f[0] != "Z" for f in group_stats(proc.pid)) and time.monotonic() < until:
        time.sleep(0.1)


def spawn(module: str, args: list[str], work: str, **kw) -> subprocess.Popen:
    os.makedirs(work, exist_ok=True)
    log = open(os.path.join(work, f"{module}.log"), "a")
    try:
        return subprocess.Popen(
            [sys.executable, "-m", f"perfbench.{module}", *args],
            cwd=ROOT,
            env=env.bench_env(ROOT, work),
            stderr=log,
            start_new_session=True,
            **kw,
        )
    finally:
        log.close()


class RunError(RuntimeError):
    """The system under test could not be run to the end."""


def fail_with_log(work: str, module: str, what: str) -> RunError:
    path = os.path.join(work, f"{module}.log")
    tail = open(path).read()[-3000:] if os.path.exists(path) else ""
    return RunError(f"{what}\n--- {module}.log (tail) ---\n{tail}")


# -- workloads ----------------------------------------------------------------


def run_service(seed: int, seconds: float, traced: bool, work: str, deadline: float) -> dict:
    args = ["--seed", str(seed), "--work", work] + (["--traced"] if traced else [])
    proc = spawn("service", args, work, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    # A hung set-up or check must not outlive the run: killing the group
    # closes the pipe the reads below block on.
    watchdog = threading.Timer(deadline - time.monotonic(), os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    try:
        ready = read_marked(proc, "READY")
        if ready is None:
            raise fail_with_log(work, "service", "the service process ended before it was ready")
        try:
            n = max(2, round(seconds / SERVICE_CYCLE_S))
            client = service.drive(ready["port"], seed, n, seconds + SERVICE_DEADLINE_S)
            proc.stdin.write(json.dumps({"acked": client["acked"]}) + "\n")
            proc.stdin.flush()
        except OSError as e:
            raise fail_with_log(work, "service", f"the service stopped answering: {e}") from e
        sut = read_marked(proc, "RESULT")
        if sut is None:
            raise fail_with_log(work, "service", "the service process ended without a result")
    finally:
        watchdog.cancel()
        reap(proc, 30)
    return {"ready": ready, "client": client, "sut": sut}


def read_marked(proc: subprocess.Popen, kind: str) -> dict | None:
    prefix = f"{service.MARK}{kind} "
    for line in proc.stdout:
        if line.startswith(prefix):
            return json.loads(line[len(prefix) :])
    return None


def run_analytics(seed: int, seconds: float, traced: bool, work: str, deadline: float) -> dict:
    out = os.path.join(work, "analytics.json")
    args = ["--seed", str(seed), "--seconds", str(seconds), "--work", work, "--out", out]
    proc = spawn("analytics", args + (["--traced"] if traced else []), work, stdout=subprocess.DEVNULL)
    reap(proc, deadline - time.monotonic())
    if proc.returncode != 0 or not os.path.exists(out):
        raise fail_with_log(work, "analytics", f"the analytics process failed ({proc.returncode})")
    with open(out) as f:
        return json.load(f)


# -- metrics ------------------------------------------------------------------


def drained_per_s(client: dict) -> float:
    """The client's batches over the time from its first POST to the last
    completion."""
    batches = sum(-(-len(x["ids"]) // service.BATCH_SIZE) for x in client["acked"])
    return batches / client["elapsed_s"]


def service_metrics(r: dict) -> tuple[dict, dict, int, int, list[str]]:
    """(end-to-end metrics, report-only figures, attempted, failed, errors)."""
    client, sut = r["client"], r["sut"]
    by_op = {op: [dt for o, dt, _ in client["requests"] if o == op] for op in ("ingest", "status")}
    bad = dict(sut["bad"])
    for iid in client["missed_deadline"]:
        bad.setdefault(iid, "not completed by the deadline")
    attempted = len(client["requests"])
    failed = client["failed_requests"] + len(bad)
    throughput = drained_per_s(client)
    status = summary(by_op["status"])
    report = {
        "ingest_p50_s": median_or_zero(by_op["ingest"]),
        "status_p50_s": status["p50"] or 0.0,
        **{f"status_{k}_s": v for k, v in status.items() if k not in ("n", "p50")},
        "status_n": status["n"],
        "complete_samples_s": client["completions"],
        "drain_batches_per_s": throughput,
        "error_rate": failed / max(attempted, 1),
    }
    e2e = {
        "setup_s": r["ready"]["setup_s"],
        "complete_s": median_or_zero(client["completions"]),
        "throughput_per_s": throughput,
    }
    errors = [f"ingestion {k}: {v}" for k, v in bad.items()]
    return e2e, report, attempted, failed, errors


def best_entry_s(r: dict) -> dict[str, float]:
    """Each entry's best time over the timed passes. The passes do the same
    work on a settled JVM (see env.py); the best sheds the bursts of load
    from other tenants of the box, which slow every entry of a pass or two
    by up to half."""
    return {name: min(ms) / 1000 for name, ms in r["entry_ms"].items() if ms}


def analytics_metrics(r: dict) -> tuple[dict, dict, int, int, list[str]]:
    per_entry = best_entry_s(r)
    total = sum(per_entry.values())
    report = {
        "query_total_s": total,
        "pass_samples_s": [sum(p) / 1000 for p in zip(*r["entry_ms"].values())],
    }
    for fam, names in analytics.FAMILIES.items():
        report[f"{fam}_s"] = sum(per_entry.get(n, 0.0) for n in names)
    report["error_rate"] = r["failed"] / max(r["attempted"], 1)
    e2e = {
        "setup_s": r["setup_s"],
        # geometric mean: every entry counts by its relative change, where
        # a median of five would jump between entries of similar cost
        "complete_s": math.exp(fmean(map(math.log, per_entry.values()))) if per_entry else 0.0,
        "throughput_per_s": len(per_entry) / total if total else 0.0,
    }
    return e2e, report, r["attempted"], r["failed"], r["errors"]


def service_layers(r: dict) -> dict[str, float]:
    """HTTP figures from the served phase; per-operation figures from the
    isolated rounds that follow it, where each call runs alone."""
    client, sut = r["client"], r["sut"]
    counters = sut.get("counters", {})
    m: dict[str, float] = {
        "session.start_s": r["ready"]["session_s"],
        "proc.peak_rss_mb": sut["peak_rss_mb"],
        "http_api.requests": len(client["requests"]),
        "http_api.non2xx": sum(1 for _, _, code in client["requests"] if not 200 <= code < 300),
        "drain.state_files": sut["state_files"],
        "drain.state_bytes": sut["state_bytes"],
        "drain.bytes_per_id": sut["state_bytes"] / max(sut["ids_ingested"], 1),
        "drain.compact_s": sut["compact_s"],
    }
    # Handler calls and client requests pair up in order: one request in flight.
    rtt = [(op, dt * 1000) for op, dt, _ in client["requests"]]
    if len(rtt) == len(sut["handler_ms"]):
        m["http_api.shim_ms_p50"] = median_or_zero([a[1] - b for a, b in zip(rtt, sut["handler_ms"])])
    for op in ("ingest", "status"):
        m[f"http_api.{op}_ms_p50"] = median_or_zero([dt for o, dt in rtt if o == op])
    for op in DRAIN_OPS:
        spans = [s for s in sut["spans"] if s[0] == op and (op != "drain_step" or s[4].get("drained"))]
        jobs = [counters.get(s[1], [0, 0, 0.0]) for s in spans]
        m[f"drain.{op}.wall_ms_p50"] = median_or_zero([s[2] for s in spans])
        m[f"drain.{op}.jobs"] = median_or_zero([j[0] for j in jobs])
        m[f"drain.{op}.tasks"] = median_or_zero([j[1] for j in jobs])
        m[f"drain.{op}.spark_ms"] = median_or_zero([j[2] for j in jobs])
        m[f"drain.{op}.driver_ms"] = median_or_zero([s[2] - j[2] for s, j in zip(spans, jobs)])
        m[f"drain.{op}.cpu_ms"] = median_or_zero([s[3] for s in spans])
        m[f"drain.{op}.files_written"] = median_or_zero([s[4]["files"] for s in spans])
        m[f"drain.{op}.bytes_written"] = median_or_zero([s[4]["bytes"] for s in spans])
    return m


def analytics_layers(r: dict) -> dict[str, float]:
    t = r["trace"]
    m: dict[str, float] = {
        "session.start_s": r["session_s"],
        "tables.warm_s": r["tables_s"],
        "proc.peak_rss_mb": r["peak_rss_mb"],
        "streaming.micro_batches": t["micro_batches"],
        "streaming.trigger_ms_p50": t["trigger_ms_p50"],
    }
    for fam, vals in t["families"].items():
        for f in FAMILY_FIELDS:
            m[f"operators.{fam}.{f}"] = vals.get(f, 0)
    per_entry = best_entry_s(r)
    m["operators.query_total_s"] = sum(per_entry.values())
    for name, s in per_entry.items():
        m[f"query.{name}_s"] = s
    return m


RUNNERS = {
    "service_http": (run_service, service_metrics, service_layers),
    "analytics_mix": (run_analytics, analytics_metrics, analytics_layers),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "data_ingestion_api_system_spark"))
    ):
        print("perfbench: run from the root of a checkout of the program", file=sys.stderr)
        return 2
    run, metrics, layers = RUNNERS[a.workload]
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    print(
        f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
        f"cpus={env.cpus()} driver_mem={env.driver_mem()} python={sys.version.split()[0]}"
    )
    try:
        base = None
        if a.trace:
            base = run(a.seed, a.seconds, False, os.path.join(work, "untraced"), deadline)
        r = run(a.seed, a.seconds, bool(a.trace), os.path.join(work, "traced" if a.trace else "untraced"), deadline)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, report, attempted, failed, errors = metrics(r)
    for k, v in {**e2e, **report}.items():
        unit = END_TO_END.get(k) or ("1/s" if k.endswith("_per_s") else "s" if k.endswith("_s") else "")
        shown = " ".join(f"{x:.4g}" for x in v) if isinstance(v, list) else f"{v:.6g}"
        print(f"{k:28s} {shown} {unit}".rstrip())
    if base is not None:
        # The traced run's own correctness and the untraced run's both count.
        base_e2e, _, base_attempted, base_failed, base_errors = metrics(base)
        attempted, failed, errors = attempted + base_attempted, failed + base_failed, errors + base_errors
    for err in errors[:20]:
        print(f"! {err}")
    if base is not None:
        units = per_layer_units()
        values = {k: 0.0 for k in units}
        values.update(layers(r))
        values["trace.overhead_pct"] = 100 * (e2e["complete_s"] - base_e2e["complete_s"]) / base_e2e["complete_s"]
        out = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    else:
        out = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
