"""The drain pipeline's state tables: how rows become DataFrames (Arrow, a
driver-side ``LocalTableScan``), compatibility with state written by the
earlier ``createDataFrame(rows)`` writer, failure on unreadable state, a
crash between a step's appends, and sequence counters across a reopen."""

from __future__ import annotations

import glob
import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_api_system_spark.streaming.drain import (
    _BATCH_LOG_SCHEMA,
    _BATCHES_SCHEMA,
    _INGESTIONS_SCHEMA,
    DrainConfig,
    IngestionPipeline,
)

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _row_frame(self, rows, schema):
    """The earlier conversion: a pickled Python RDD of ``Row`` objects."""
    return self.spark.createDataFrame(rows, schema)


def _assert_local_scan(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_appends_and_memory_reads_plan_as_local_table_scan(spark, tmp_path, monkeypatch):
    written = []
    frame = IngestionPipeline._frame

    def spy(self, rows, schema):
        df = frame(self, rows, schema)
        written.append(df)
        return df

    monkeypatch.setattr(IngestionPipeline, "_frame", spy)
    durable = IngestionPipeline(spark, str(tmp_path / "durable"))
    durable.ingest([1, 2, 3, 4], "HIGH")
    assert len(written) == 2  # ingestions, batches
    durable.drain_step()  # reads the absent batch_log as an empty frame
    assert len(written) == 2 + 1 + 3  # then log, processed, log
    for df in written:
        _assert_local_scan(df)
    # each append is still one Spark parquet write with its commit marker
    tables = {"ingestions": 1, "batches": 1, "batch_log": 2, "processed": 1}
    for name, appends in tables.items():
        path = durable._path(name)
        assert len(glob.glob(os.path.join(path, "part-*.parquet"))) == appends
        assert os.path.exists(os.path.join(path, "_SUCCESS"))

    mem = IngestionPipeline(spark, str(tmp_path / "mem"), durable=False)
    mem.ingest([1, 2, 3, 4], "HIGH")
    mem.drain_step()
    for name, schema in (("batches", _BATCHES_SCHEMA), ("batch_log", _BATCH_LOG_SCHEMA)):
        _assert_local_scan(mem._read(name, schema))


def _state_rows():
    """Batches whose ``created_at`` carries microseconds, a non-UTC offset
    or no zone at all, full-range int32 ``batch_seq`` and array ``ids``; log rows whose
    ``log_seq`` order differs from batch order."""
    east = timezone(timedelta(hours=5, minutes=30))
    batches = [
        Row(
            batch_id=f"b{i}",
            ingestion_id="ing",
            request_seq=i,
            batch_seq=seq,
            ids=ids,
            priority="LOW",
            created_at=at,
        )
        for i, (seq, ids, at) in enumerate(
            [
                (0, [1, 2, 3], datetime(2024, 3, 10, 1, 2, 3, 456789, tzinfo=east)),
                (2**31 - 1, [1_000_000_007], datetime(2024, 3, 10, 1, 2, 3, 456790, tzinfo=timezone.utc)),
                (-(2**31), [], datetime(1999, 12, 31, 23, 59, 59, 999999, tzinfo=timezone.utc)),
                (5, [4, 5], datetime(2024, 1, 1, 12, 0, 0, 1)),  # naive: local time
            ]
        )
    ]
    log = [
        Row(batch_id=b, status=s, log_seq=n)
        for b, s, n in [("b2", "triggered", 0), ("b0", "triggered", 7), ("b2", "completed", 3)]
    ]
    return batches, log


def _micros(at: datetime) -> int:
    return (at.astimezone(timezone.utc) - _EPOCH) // timedelta(microseconds=1)


def test_durable_round_trip_matches_row_writer(spark, tmp_path, monkeypatch):
    batches, log = _state_rows()
    arrow = IngestionPipeline(spark, str(tmp_path / "arrow"))
    arrow._append("batches", batches, _BATCHES_SCHEMA)
    arrow._append("batch_log", log, _BATCH_LOG_SCHEMA)
    with monkeypatch.context() as m:
        m.setattr(IngestionPipeline, "_frame", _row_frame)
        old = IngestionPipeline(spark, str(tmp_path / "rows"))
        old._append("batches", batches, _BATCHES_SCHEMA)
        old._append("batch_log", log, _BATCH_LOG_SCHEMA)

    def batches_back(p):
        return [
            (r.batch_id, r.ingestion_id, r.request_seq, r.batch_seq, r.ids, r.priority, r.at_us)
            for r in p._read("batches", _BATCHES_SCHEMA)
            .withColumn("at_us", F.unix_micros("created_at"))
            .orderBy("request_seq")
            .collect()
        ]

    want = [
        (r.batch_id, r.ingestion_id, r.request_seq, r.batch_seq, r.ids, r.priority, _micros(r.created_at))
        for r in batches
    ]
    assert batches_back(arrow) == batches_back(old) == want

    def log_back(p):
        rows = p._read("batch_log", _BATCH_LOG_SCHEMA).orderBy("log_seq").collect()
        return [tuple(r) for r in rows]

    assert log_back(arrow) == log_back(old) == sorted(map(tuple, log), key=lambda r: r[2])

    # the files carry the same physical types, whichever writer made them
    for p in (arrow, old):
        stored = spark.read.parquet(p._path("batches")).schema
        assert stored["batch_seq"].dataType == T.IntegerType()
        assert stored["created_at"].dataType == T.TimestampType()
        assert stored["ids"].dataType == T.ArrayType(T.LongType())


def test_state_from_row_writer_keeps_status_and_order(spark, tmp_path, monkeypatch):
    """A state dir written by the earlier writer, reopened: statuses read
    right, and new appends drain in queue order among the old batches."""
    state = str(tmp_path / "state")
    clock = {"t": 0}

    def open_pipeline():
        return IngestionPipeline(
            spark, state, clock=lambda: datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=clock["t"])
        )

    with monkeypatch.context() as m:
        m.setattr(IngestionPipeline, "_frame", _row_frame)
        old = open_pipeline()
        low = old.ingest([1, 2, 3, 4], "LOW")
        clock["t"] = 1
        med = old.ingest([5, 6, 7], "MEDIUM")
        assert old.drain_step() == old.status(med)["batches"][0]["batch_id"]

    new = open_pipeline()
    assert new.status(med)["status"] == "completed"
    assert [b["status"] for b in new.status(low)["batches"]] == ["yet_to_start"] * 2
    clock["t"] = 2
    low2 = new.ingest([8], "LOW")
    high = new.ingest([9], "HIGH")
    order = [new.drain_step() for _ in range(4)]
    assert new.drain_step() is None
    ids = lambda ing: [b["batch_id"] for b in new.status(ing)["batches"]]  # noqa: E731
    assert order == ids(high) + ids(low) + ids(low2)
    assert all(new.status(i)["status"] == "completed" for i in (low, med, low2, high))


def test_corrupt_log_raises_and_reruns_nothing(spark, tmp_path):
    """An unreadable ``batch_log`` is an error, not an empty log: reading it
    as empty would put every completed batch back in the queue and repeat
    its external calls."""
    calls: list[int] = []

    def call(id_: int) -> dict:
        calls.append(id_)
        return {"id": id_, "data": "processed"}

    state = str(tmp_path / "state")
    p = IngestionPipeline(spark, state, DrainConfig(external_call=call))
    ing = p.ingest([1, 2, 3, 4], "HIGH")
    p.drain_step()
    assert calls == [1, 2, 3]
    parts = glob.glob(os.path.join(state, "batch_log", "part-*.parquet"))
    assert parts
    with open(parts[0], "wb") as f:
        f.write(b"not a parquet file")

    for pipeline in (p, IngestionPipeline(spark, state, DrainConfig(external_call=call))):
        with pytest.raises(Exception, match="(?i)parquet"):
            pipeline.drain_step()
        with pytest.raises(Exception, match="(?i)parquet"):
            pipeline.status(ing)
    assert calls == [1, 2, 3]


def test_crash_between_log_and_results_reruns_nothing(spark, tmp_path, monkeypatch):
    """A step that dies after logging ``triggered`` but before its results
    are appended raises, leaves the batch ``triggered``, and is not re-run
    by later steps, on the open pipeline or on a reopened one: no external
    call repeats."""
    calls: list[int] = []

    def call(id_: int) -> dict:
        calls.append(id_)
        return {"id": id_, "data": "processed"}

    state = str(tmp_path / "state")
    p = IngestionPipeline(spark, state, DrainConfig(external_call=call))
    ing = p.ingest([1, 2, 3, 4], "HIGH")
    append = IngestionPipeline._append

    def crash(self, name, rows, schema):
        if name == "processed":
            raise OSError("disk full")
        append(self, name, rows, schema)

    with monkeypatch.context() as m:
        m.setattr(IngestionPipeline, "_append", crash)
        with pytest.raises(OSError, match="disk full"):
            p.drain_step()
    assert calls == [1, 2, 3]
    assert [b["status"] for b in p.status(ing)["batches"]] == ["triggered", "yet_to_start"]

    assert p.drain_step() == p.status(ing)["batches"][1]["batch_id"]
    assert calls == [1, 2, 3, 4]
    assert p.drain_step() is None and p.drain_all() == 0
    reopened = IngestionPipeline(spark, state, DrainConfig(external_call=call))
    assert reopened.drain_step() is None and reopened.drain_all() == 0
    assert calls == [1, 2, 3, 4]
    st = reopened.status(ing)
    assert st["status"] == "triggered"
    assert [b["status"] for b in st["batches"]] == ["triggered", "completed"]
    assert sorted(r.id for r in reopened.processed_results().collect()) == [4]


def test_reopen_resumes_sequence_counters(spark, tmp_path):
    """``log_seq`` stays the global trigger order, and ``request_seq``
    continues, across a reopen of the state dir (``compact_log`` included).
    On a fresh state dir the counters cost no Spark job: the first ingest
    runs only its two appends."""
    state = str(tmp_path / "state")
    p = IngestionPipeline(spark, state)
    sc = spark.sparkContext
    sc.setJobGroup("first-ingest", "first-ingest")
    try:
        p.ingest([1, 2, 3, 4], "LOW")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("first-ingest")) == 2
    triggered = [p.drain_step()]
    p.ingest([1, 2, 3, 4], "LOW")
    triggered.append(p.drain_step())
    p.compact_log()  # keeps each batch's last log_seq
    for _ in range(2):
        p = IngestionPipeline(spark, state)
        p.ingest([5], "HIGH")
        triggered += [p.drain_step(), p.drain_step()]
    assert p.drain_step() is None

    log = p._read("batch_log", _BATCH_LOG_SCHEMA).orderBy("log_seq").collect()
    assert [r.batch_id for r in log if r.status == "triggered"] == triggered[2:]
    assert [r.batch_id for r in log if r.status == "completed"] == triggered
    assert len({r.log_seq for r in log}) == len(log)
    seqs = [r.request_seq for r in p._read("ingestions", _INGESTIONS_SCHEMA).collect()]
    assert sorted(seqs) == [0, 1, 2, 3]
