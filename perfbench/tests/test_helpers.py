"""Tests for the benchmark's own helpers. Run from the repository root:
``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from perfbench import gen
from perfbench.service import BATCH_SIZE, check_service, plan
from perfbench.stats import percentile, summary, tail_percentile
from perfbench.trace import _union_ms

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- the tail-percentile rule -------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50), (40, 75), (99, 89), (100, 90), (1000, 99), (10_000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        beyond = n - percentile_rank(n, expected)
        assert beyond >= 10


def percentile_rank(n: int, p: int) -> int:
    return len([v for v in range(1, n + 1) if v <= percentile(list(range(1, n + 1)), p)])


def test_summary_names_only_the_supported_tail():
    assert set(summary([1.0] * 19)) == {"n", "p50"}
    s = summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0


def test_union_of_job_intervals():
    assert _union_ms([(0, 10), (5, 15), (20, 30)]) == 25.0
    assert _union_ms([(0, 10), (2, 3)]) == 10.0
    assert _union_ms([]) == 0.0


# -- generator determinism ----------------------------------------------------


def test_service_plan_is_a_function_of_the_seed():
    assert plan(7) == plan(7)
    assert plan(7) != plan(8)
    warm, client = plan(7)
    ids = [i for item in warm + client for i in item.ids]
    assert len(ids) == len(set(ids)), "ids repeat across a plan"
    assert [w.priority for w in warm] == ["LOW", "HIGH"]
    assert len(warm[0].ids) > BATCH_SIZE >= len(warm[1].ids)
    assert all(1 <= len(c.ids) <= BATCH_SIZE for c in client)


def test_entry_order_is_a_function_of_the_seed():
    names = [f"e{i}" for i in range(12)]
    assert gen.entry_order(3, names) == gen.entry_order(3, names)
    assert gen.entry_order(3, names) != gen.entry_order(4, names)
    assert sorted(gen.entry_order(3, names)) == sorted(names)


def test_tables_are_a_function_of_the_seed(tmp_path):
    import pandas as pd

    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        gen.write_tables(seed, str(tmp_path / sub), n_orders=300)
    for table in ("orders", "lineitem", "events", "documents", "embeddings"):
        a, b, c = (pd.read_parquet(tmp_path / s / f"{table}.parquet") for s in "abc")
        pd.testing.assert_frame_equal(a, b)
        assert not a.equals(c)


# -- service invariants -------------------------------------------------------


def _status(iid, batches):
    return {
        "ingestion_id": iid,
        "status": "completed",
        "batches": [{"batch_id": b, "ids": ids, "status": "completed"} for b, ids in batches],
    }


LOW = {"ingestion_id": "low", "ids": [1, 2, 3, 4], "priority": "LOW"}
HIGH = {"ingestion_id": "high", "ids": [5], "priority": "HIGH"}
NEXT = {"ingestion_id": "next", "ids": [6, 7], "priority": "LOW"}
PHASES = [[LOW, HIGH], [NEXT]]  # both posted, then drained; then the next one


def _statuses(low=(("l0", [1, 2, 3]), ("l1", [4]))):
    return {
        "low": _status("low", list(low)),
        "high": _status("high", [("h0", [5])]),
        "next": _status("next", [("n0", [6, 7])]),
    }


ONCE = [("l0", 1), ("l0", 2), ("l0", 3), ("h0", 5), ("l1", 4), ("n0", 6), ("n0", 7)]


def test_check_service_accepts_a_priority_ordered_drain():
    assert check_service(PHASES, _statuses(), ONCE, ["h0", "l0", "l1", "n0"]) == {}


def test_check_service_flags_order_duplicates_and_chunking():
    fifo = check_service(PHASES, _statuses(), ONCE, ["l0", "h0", "l1", "n0"])
    assert set(fifo) == {"low", "high"} and "order" in fifo["low"]
    early = check_service(PHASES, _statuses(), ONCE, ["h0", "l0", "n0", "l1"])
    assert "order" in early["next"]
    twice = check_service(PHASES, _statuses(), ONCE + [("h0", 5)], ["h0", "l0", "l1", "n0"])
    assert "processed 2 times" in twice["high"]
    chunked = check_service(PHASES, _statuses(low=(("l0", [1, 2]), ("l1", [3, 4]))), ONCE, ["h0", "l0", "l1", "n0"])
    assert "chunked" in chunked["low"]
    redrained = check_service(PHASES, _statuses(), ONCE, ["h0", "l0", "l1", "l1", "n0"])
    assert "order" in redrained["low"]


# -- job-to-span attribution on a tiny traced run -----------------------------


def test_jobs_are_attributed_to_the_span_that_submitted_them(tmp_path):
    """Two tagged spans with a known number of jobs each, in a real local
    session with the event log on; the parse must give each span exactly
    its own jobs and tasks, and the untagged job to no span."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import SparkSession
        from perfbench.trace import Spans, eventlog_conf, parse_eventlog
        b = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
        for k, v in eventlog_conf({str(tmp_path / "log")!r}).items():
            b = b.config(k, v)
        spark = b.getOrCreate()
        spans = Spans(spark, traced=True)
        _, one = spans.run("one", lambda: spark.range(10, numPartitions=3).count())
        _, two = spans.run("two", lambda: [spark.range(5, numPartitions=2).collect() for _ in range(2)])
        spark.range(1).collect()  # untagged
        spark.stop()
        counters, _ = parse_eventlog({str(tmp_path / "log")!r})
        print(json.dumps({{k: [c.jobs, c.tasks, c.spark_ms] for k, c in counters.items()}} | {{"keys": [one.key, two.key], "wall": [one.wall_ms, two.wall_ms]}}))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300,
        env=dict(os.environ, PYTHONPATH=ROOT),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    one, two = got["keys"]
    assert got[two][:2] == [2, 4]
    assert got[one][0] >= 1 and got[one][1] >= 3
    assert "" in got and got[""][0] >= 1
    for key, wall in zip((one, two), got["wall"]):
        assert 0 < got[key][2] <= wall + 50  # job time fits inside the span
