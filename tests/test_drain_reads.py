"""The drain pipeline's read side: the pending set as an anti-join of
``batches`` against ``batch_log``, and ``status`` as one join whose
last-write-wins pick runs on the driver. Pins how many Spark jobs each read
costs, that ``drain_all`` runs no trailing empty step, that only
``triggered``/``completed`` can be logged, and that both reads agree exactly
with the earlier formulation (a per-batch ``max(struct(log_seq, status))``
aggregate joined back to ``batches``) over random histories."""

from __future__ import annotations

import random
import subprocess
import sys
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_ingestion_api_system_spark.ingestion.core import priority_level
from data_ingestion_api_system_spark.schemas import (
    STATUS_COMPLETED,
    STATUS_TRIGGERED,
    STATUS_YET_TO_START,
)
from data_ingestion_api_system_spark.streaming.drain import (
    _BATCH_LOG_SCHEMA,
    _BATCHES_SCHEMA,
    _INGESTIONS_SCHEMA,
    IngestionPipeline,
    NotFound,
)

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


# -- the earlier formulation, kept here as the reference ----------------------


def _old_batches_with_status(p: IngestionPipeline):
    batches = p._read("batches", _BATCHES_SCHEMA)
    log = p._read("batch_log", _BATCH_LOG_SCHEMA)
    latest = (
        log.groupBy("batch_id")
        .agg(F.max(F.struct("log_seq", "status")).alias("m"))
        .select("batch_id", F.col("m.status").alias("log_status"))
    )
    return (
        batches.join(latest, "batch_id", "left")
        .withColumn("status", F.coalesce("log_status", F.lit(STATUS_YET_TO_START)))
        .drop("log_status")
    )


def _old_status(p: IngestionPipeline, ingestion_id: str) -> dict:
    ing = (
        p._read("ingestions", _INGESTIONS_SCHEMA)
        .filter(F.col("ingestion_id") == ingestion_id)
        .head(1)
    )
    if not ing:
        raise NotFound(ingestion_id)
    rows = (
        _old_batches_with_status(p)
        .filter(F.col("ingestion_id") == ingestion_id)
        .orderBy("batch_seq")
        .select("batch_id", "ids", "status")
        .collect()
    )
    statuses = [r.status for r in rows]
    if all(s == STATUS_COMPLETED for s in statuses):
        overall = STATUS_COMPLETED
    elif any(s == STATUS_TRIGGERED for s in statuses):
        overall = STATUS_TRIGGERED
    else:
        overall = STATUS_YET_TO_START
    return {
        "ingestion_id": ingestion_id,
        "status": overall,
        "batches": [
            {"batch_id": r.batch_id, "ids": list(r.ids), "status": r.status}
            for r in rows
        ],
    }


def _old_queue(p: IngestionPipeline):
    return (
        _old_batches_with_status(p)
        .filter(F.col("status") == STATUS_YET_TO_START)
        .withColumn("priority_level", priority_level("priority"))
        .orderBy(
            F.desc("priority_level"),
            F.asc("created_at"),
            F.asc("request_seq"),
            F.asc("batch_seq"),
        )
    )


# -- equivalence over random histories ----------------------------------------


def _assert_matches_old(p: IngestionPipeline, ingestions: list[str]) -> None:
    for iid in ingestions + ["no-such-ingestion"]:
        try:
            want = _old_status(p, iid)
        except NotFound:
            with pytest.raises(NotFound):
                p.status(iid)
            continue
        assert p.status(iid) == want
    got, want = p.queue_snapshot(), _old_queue(p)
    assert got.columns == want.columns
    assert got.collect() == want.collect()


@pytest.mark.parametrize("durable", [True, False], ids=["durable", "memory"])
@pytest.mark.parametrize("seed", [5, 6])
def test_reads_match_old_formulation(spark, tmp_path, seed, durable):
    """Ingests across priorities (zero-id ones and equal timestamps too),
    partial drains, a step cut after its ``triggered`` row, verbatim
    replays of logged transitions, and compaction."""
    rng = random.Random(seed)
    clock = {"t": 0}
    p = IngestionPipeline(
        spark,
        str(tmp_path / "state"),
        clock=lambda: _EPOCH + timedelta(seconds=clock["t"]),
        durable=durable,
    )
    sizes = [0, 1, 3, 4, 7]  # zero ids, one batch, a full one, two, three
    rng.shuffle(sizes)
    ops = ["drain", "drain", "drain", "cut", "replay", "compact", "ingest", "ingest", "ingest", "ingest"]
    rng.shuffle(ops)
    ingestions: list[str] = []
    exercised = set()
    for step, op in enumerate(["ingest"] + ops):
        if op == "ingest":
            clock["t"] += rng.choice([0, 1])
            ids = list(range(1, sizes.pop() + 1))
            ingestions.append(p.ingest(ids, rng.choice(["HIGH", "MEDIUM", "LOW"])))
        elif op == "drain":
            p.drain_all(max_steps=rng.randint(1, 3))
        elif op == "cut":  # a step that died after logging 'triggered'
            head = p._next_pending()
            if head:
                p._log(head[0].batch_id, STATUS_TRIGGERED)
                exercised.add(op)
        elif op == "replay":
            log = p._read("batch_log", _BATCH_LOG_SCHEMA).collect()
            if log:
                replay = [Row(**r.asDict()) for r in rng.sample(log, rng.randint(1, len(log)))]
                p._append("batch_log", replay, _BATCH_LOG_SCHEMA)
                exercised.add(op)
        elif p.compact_log():
            exercised.add(op)
        if step % 3 == 2:
            _assert_matches_old(p, ingestions)
    _assert_matches_old(p, ingestions)
    assert exercised == {"cut", "replay", "compact"}  # the seed reaches every case


# -- the mechanism -------------------------------------------------------------


def _jobs(spark, group: str, fn, *args):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_run_at_most_two_jobs(spark, tmp_path):
    p = IngestionPipeline(spark, str(tmp_path / "state"))
    first = p.ingest([1, 2, 3, 4], "LOW")
    second = p.ingest([5, 6, 7], "HIGH")
    p.drain_step()  # a log exists: HIGH done, both LOW batches pending
    st, n = _jobs(spark, "reads-status", p.status, first)
    assert [b["status"] for b in st["batches"]] == ["yet_to_start"] * 2
    assert n <= 2
    assert _jobs(spark, "reads-status-done", p.status, second)[1] <= 2
    head, n = _jobs(spark, "reads-dequeue", p._next_pending)
    assert [r.batch_id for r in head] == [b["batch_id"] for b in st["batches"]]
    assert n <= 2
    plan = p.queue_snapshot()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "HashAggregate" not in plan, plan


def test_drain_all_runs_no_empty_step(spark, tmp_path, monkeypatch):
    calls = []
    dequeue = IngestionPipeline._next_pending

    def spy(self):
        head = dequeue(self)
        calls.append(len(head))
        return head

    monkeypatch.setattr(IngestionPipeline, "_next_pending", spy)
    p = IngestionPipeline(spark, str(tmp_path / "state"), durable=False)
    ing = p.ingest([1, 2], "LOW")
    assert p.drain_all() == 1
    assert calls == [1]
    assert p.status(ing)["status"] == STATUS_COMPLETED
    p.ingest([1, 2, 3, 4, 5, 6, 7], "HIGH")
    assert p.drain_all() == 3
    assert calls == [1, 2, 2, 1]
    assert p.drain_all() == 0  # an empty queue still costs one dequeue
    assert calls == [1, 2, 2, 1, 0]


def test_log_refuses_other_statuses(spark, tmp_path):
    p = IngestionPipeline(spark, str(tmp_path / "state"), durable=False)
    ing = p.ingest([1], "LOW")
    batch_id = p.status(ing)["batches"][0]["batch_id"]
    for status in (STATUS_YET_TO_START, "failed"):
        with pytest.raises(ValueError, match="cannot log status"):
            p._log(batch_id, status)
    assert p._read("batch_log", _BATCH_LOG_SCHEMA).count() == 0
    assert p.drain_step() == batch_id


def test_log_guard_survives_optimized_mode(tmp_path):
    """``python -O`` strips asserts; the guard must not be one."""
    code = (
        "from data_ingestion_api_system_spark.streaming.drain import IngestionPipeline\n"
        f"p = IngestionPipeline(None, {str(tmp_path / 'state')!r}, durable=False)\n"
        "try:\n"
        "    p._log('b', 'yet_to_start')\n"
        "except ValueError:\n"
        "    print('refused')\n"
    )
    out = subprocess.run(
        [sys.executable, "-O", "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.stdout.strip() == "refused", out.stderr
