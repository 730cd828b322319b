"""The reference's stateful drain loop (src/app.js:61-103) re-expressed on
Spark: SURVEY.md §2 operators A7 (top-1 dequeue), A8 (existence guard),
A9/A11 (status transitions), A10 (per-ID external call), A12 (5 s
gap-after-work pacing), A13 (serialization).

Design (SURVEY §3.4, §4.3):

- **State = tables, not mutable maps.** ``ingestions`` and ``batches`` are
  append-only parquet; status transitions append to a ``batch_log``
  (batch_id, status, log_seq) and current status is the latest log entry —
  the recompute-from-log design that makes every transition idempotent
  under retries (the exactly-once concern Delta MERGE would otherwise
  cover; the reference gets this for free by being single-threaded).
- **The queue is a query.** There is no queue data structure: pending =
  ``batches ⟕ latest-log WHERE status='yet_to_start' ORDER BY
  priority_level DESC, created_at ASC, request_seq ASC, batch_seq ASC
  LIMIT 1`` evaluated per trigger — identical preemption semantics to the
  reference's sort-on-insert queue (test/test_api.js:216-267: HIGH
  submitted later overtakes queued LOW), and on Spark it executes as
  TakeOrderedAndProject (per-partition heap + driver merge, no global
  sort). Each step still scans ``batches`` and the whole log, so its cost
  grows with the state tables; that curve has not been measured.
- **Writes go through Arrow.** Every rows → DataFrame conversion is
  :meth:`IngestionPipeline._frame`: the rows become a ``pyarrow.Table``,
  which Spark plans as a driver-side ``LocalTableScan``. Built from a list
  of ``Row`` objects the same frame would be a pickled Python RDD, and a
  Python worker would start up to unpickle one to three rows per write.
  Durable appends still run Spark's parquet writer and commit protocol.
- **Mutual exclusion (A13) is structural**: one drain loop per pipeline
  object; in the Structured Streaming deployment one query = one active
  trigger at a time.
- **Pacing (A12) is injectable**: ``DrainConfig(per_id_delay=0.5,
  batch_gap=5.0)`` reproduces the reference's wall-clock arithmetic
  (full-batch cycle 6.5 s — BASELINE.md); tests run with zeros and step
  the loop deterministically (SURVEY §5.2.1), so correctness never depends
  on sleeps.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..ingestion.core import priority_level
from ..schemas import (
    BATCH_SIZE,
    MAX_ID,
    MIN_ID,
    STATUS_COMPLETED,
    STATUS_TRIGGERED,
    STATUS_YET_TO_START,
    VALID_PRIORITIES,
)


class InvalidRequest(ValueError):
    """The 400 path (src/app.js:115)."""


class NotFound(KeyError):
    """The 404 path (src/app.js:161-163)."""


def default_external_call(id_: int) -> dict:
    """The simulated external API (src/app.js:28-34): returns
    {id, data:'processed'} after ``per_id_delay`` (the delay itself is
    applied by the caller so tests can zero it)."""
    return {"id": id_, "data": "processed"}


@dataclass
class DrainConfig:
    per_id_delay: float = 0.0  # reference fidelity: 0.5 (src/app.js:32)
    batch_gap: float = 0.0  # reference fidelity: 5.0 (src/app.js:92-94)
    external_call: Callable[[int], dict] = default_external_call


_BATCH_LOG_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("log_seq", T.LongType(), False),
    ]
)

_PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("data", T.StringType(), False),
    ]
)

_BATCHES_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("ingestion_id", T.StringType(), False),
        T.StructField("request_seq", T.LongType(), False),
        T.StructField("batch_seq", T.IntegerType(), False),
        T.StructField("ids", T.ArrayType(T.LongType()), False),
        T.StructField("priority", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)

_INGESTIONS_SCHEMA = T.StructType(
    [
        T.StructField("ingestion_id", T.StringType(), False),
        T.StructField("request_seq", T.LongType(), False),
        T.StructField("priority", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)


class IngestionPipeline:
    """Library-first ingest/status API (SURVEY §7.2 M3) + drain loop (M2).

    Mirrors the two REST routes:
    - ``ingest(ids, priority)``  → POST /ingest  (src/app.js:106-155)
    - ``status(ingestion_id)``   → GET /status/:id (src/app.js:158-187)
    plus ``drain_step()`` / ``drain_all()`` = one / all cycles of
    processBatches (src/app.js:61-103).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        config: DrainConfig | None = None,
        clock: Callable[[], datetime] | None = None,
        durable: bool = True,
    ):
        """``durable=True`` (production): state tables are parquet on disk,
        surviving restarts; each append is one Spark write job with its
        commit (≈0.13–0.15 s on 4 vCPUs). ``durable=False``: state rows live
        in driver memory and materialize as DataFrames on read — identical
        query semantics (every rollup/join/top-1 still runs through Spark)
        and no state on disk; used by the fast test suite (durable-mode
        tests keep the parquet path covered)."""
        self.spark = spark
        self.state_dir = state_dir
        self.config = config or DrainConfig()
        self.clock = clock or (lambda: datetime.now(timezone.utc))
        self.durable = durable
        self._request_seq = 0
        self._log_seq = 0
        self._mem: dict[str, list] = {}
        # Run-to-completion lock: the reference executes every route handler
        # and drain cycle on one Node event loop, so no two operations ever
        # interleave mid-state-mutation. The HTTP shim + fire-and-forget
        # drain thread would otherwise issue concurrent Spark jobs against
        # shared state (observed transient 'Python worker exited
        # unexpectedly' under that race); one RLock per pipeline restores
        # the reference's serial semantics. drain_all acquires per STEP, so
        # status/ingest interleave between cycles exactly as Node timers do.
        self._op_lock = threading.RLock()
        os.makedirs(state_dir, exist_ok=True)
        if durable:
            self._recover_compaction()

    # -- state table helpers -------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _frame(self, rows: list, schema: T.StructType) -> DataFrame:
        """State rows (``Row`` objects) as a DataFrame, through Arrow so
        that it plans as a ``LocalTableScan`` (see the module docstring).

        Datetimes are moved to UTC first: pyarrow stores an aware datetime's
        wall-clock reading whatever its offset, where Spark's row conversion
        stores the instant (and reads a naive value as local time, as
        ``astimezone`` does)."""
        table = pa.Table.from_pylist(
            [
                {k: v.astimezone(timezone.utc) if isinstance(v, datetime) else v
                 for k, v in r.asDict().items()}
                for r in rows
            ],
            schema=to_arrow_schema(schema),
        )
        return self.spark.createDataFrame(table, schema)

    def _read(self, name: str, schema: T.StructType) -> DataFrame:
        if not self.durable:
            return self._frame(self._mem.get(name, []), schema)
        path = self._path(name)
        if not os.path.exists(path):  # no data yet; any other failure raises
            return self._frame([], schema)
        return self.spark.read.schema(schema).parquet(path)

    def _append(self, name: str, rows: list, schema: T.StructType) -> None:
        if not self.durable:
            self._mem.setdefault(name, []).extend(rows)
            return
        self._frame(rows, schema).coalesce(1).write.mode("append").parquet(
            self._path(name)
        )

    # -- A2-A5: ingest -------------------------------------------------------

    def ingest(self, ids: list, priority: str) -> str:
        """Validate (A2), key-gen (A3), timestamp (A4), chunk (A5), persist.
        Returns the ingestion_id; raises InvalidRequest on the 400 path."""
        with self._op_lock:
            return self._ingest_locked(ids, priority)

    def _ingest_locked(self, ids: list, priority: str) -> str:
        if (
            not isinstance(ids, list)
            or any(
                not isinstance(i, int) or isinstance(i, bool) or not (MIN_ID <= i <= MAX_ID)
                for i in ids
            )
            or priority not in VALID_PRIORITIES
        ):
            raise InvalidRequest("Invalid input")
        ingestion_id = str(uuid.uuid4())
        created_at = self.clock()
        seq = self._request_seq
        self._request_seq += 1
        batch_rows = [
            Row(
                batch_id=str(uuid.uuid4()),
                ingestion_id=ingestion_id,
                request_seq=seq,
                batch_seq=bi,
                ids=[int(x) for x in ids[i : i + BATCH_SIZE]],
                priority=priority,
                created_at=created_at,
            )
            for bi, i in enumerate(range(0, len(ids), BATCH_SIZE))
        ]
        self._append(
            "ingestions",
            [
                Row(
                    ingestion_id=ingestion_id,
                    request_seq=seq,
                    priority=priority,
                    created_at=created_at,
                )
            ],
            _INGESTIONS_SCHEMA,
        )
        if batch_rows:
            self._append("batches", batch_rows, _BATCHES_SCHEMA)
        return ingestion_id

    # -- status overlay ------------------------------------------------------

    def _batches_with_status(self) -> DataFrame:
        """batches ⟕ latest batch_log entry, default yet_to_start (the A15
        coalesce). The log dedup is a per-key max — at scale a compacted
        state table; here a window-free groupBy."""
        batches = self._read("batches", _BATCHES_SCHEMA)
        log = self._read("batch_log", _BATCH_LOG_SCHEMA)
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

    # -- A14-A17: status -----------------------------------------------------

    def status(self, ingestion_id: str) -> dict:
        """GET /status/:id — point lookup (A14), child join (A15), rollup
        (A16), nested response projection (A17)."""
        with self._op_lock:
            return self._status_locked(ingestion_id)

    def _status_locked(self, ingestion_id: str) -> dict:
        ing = (
            self._read("ingestions", _INGESTIONS_SCHEMA)
            .filter(F.col("ingestion_id") == ingestion_id)
            .head(1)
        )
        if not ing:
            raise NotFound(ingestion_id)
        rows = (
            self._batches_with_status()
            .filter(F.col("ingestion_id") == ingestion_id)
            .orderBy("batch_seq")
            .select("batch_id", "ids", "status")
            .collect()
        )
        statuses = [r.status for r in rows]
        if all(s == STATUS_COMPLETED for s in statuses):  # vacuously true if empty
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

    # -- A6-A13: drain -------------------------------------------------------

    def _next_pending(self) -> Row | None:
        """A6+A7: top-1 of the pending set under (priority DESC, created_at
        ASC, request_seq ASC, batch_seq ASC) — TakeOrderedAndProject, not a
        global sort."""
        rows = (
            self._batches_with_status()
            .filter(F.col("status") == STATUS_YET_TO_START)
            .withColumn("priority_level", priority_level("priority"))
            .orderBy(
                F.desc("priority_level"),
                F.asc("created_at"),
                F.asc("request_seq"),
                F.asc("batch_seq"),
            )
            .head(1)
        )
        return rows[0] if rows else None

    def _log(self, batch_id: str, status: str) -> None:
        self._append(
            "batch_log",
            [Row(batch_id=batch_id, status=status, log_seq=self._log_seq)],
            _BATCH_LOG_SCHEMA,
        )
        self._log_seq += 1

    def drain_step(self) -> str | None:
        """One drain cycle (one loop body of src/app.js:65-96). Returns the
        processed batch_id, or None if the queue was empty."""
        with self._op_lock:
            return self._drain_step_locked()

    def _drain_step_locked(self) -> str | None:
        batch = self._next_pending()
        if batch is None:
            return None
        self._log(batch.batch_id, STATUS_TRIGGERED)  # A9
        results = []
        for id_ in batch.ids:  # A10: strictly sequential per-ID calls
            if self.config.per_id_delay:
                time.sleep(self.config.per_id_delay)
            out = self.config.external_call(int(id_))
            results.append(
                Row(batch_id=batch.batch_id, id=int(out["id"]), data=str(out["data"]))
            )
        if results:
            self._append("processed", results, _PROCESSED_SCHEMA)
        self._log(batch.batch_id, STATUS_COMPLETED)  # A11
        if self.config.batch_gap:
            time.sleep(self.config.batch_gap)  # A12: gap AFTER work
        return batch.batch_id

    def drain_all(self, max_steps: int = 10_000) -> int:
        """Drain until empty (the full processBatches loop). Returns the
        number of batches processed."""
        n = 0
        while n < max_steps and self.drain_step() is not None:
            n += 1
        return n

    # -- log compaction (the Delta-MERGE production form) --------------------

    def _recover_compaction(self) -> None:
        """Crash recovery for :meth:`compact_log`'s two-rename swap (run at
        pipeline open, the moment a Delta log would replay its last
        commit). The swap can die in two states:

        - old log already retired, promoted log not yet in place → the
          staged directory carries Spark's ``_SUCCESS`` marker, so promote
          it; if the marker is missing the stage itself was incomplete and
          the retired original is restored instead.
        - stage written (or half-written) but the old log never moved →
          the live log is intact; the stage is discarded.

        Either way the surviving ``batch_log`` is a complete, consistent
        log and the leftover staging directories are cleared.
        """
        import shutil

        log_p = self._path("batch_log")
        staged = self._path("batch_log__compacted")
        retired = self._path("batch_log__retired")
        if not os.path.exists(log_p):
            if os.path.exists(os.path.join(staged, "_SUCCESS")):
                os.rename(staged, log_p)
            elif os.path.exists(retired):
                os.rename(retired, log_p)
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(retired, ignore_errors=True)

    def compact_log(self) -> int:
        """Fold the append-only ``batch_log`` into one current-status row
        per batch — the periodic compaction a Delta deployment would run as
        ``MERGE INTO batch_status USING log ON batch_id WHEN MATCHED AND
        log.log_seq > target.log_seq THEN UPDATE ...`` (last write wins).

        The fold is the same per-key ``max(struct(log_seq, status))`` the
        read path computes on the fly, so compaction is a pure no-op for
        query results — and it is idempotent under replayed/duplicate
        transitions because struct-max is insensitive to duplicates.
        In-process readers keep working mid-compaction because every
        pipeline operation serializes on ``_op_lock`` — between the two
        directory renames below, ``batch_log`` briefly does not exist, so
        any OUT-of-process reader of the state directory must tolerate that
        rename window (or retry on missing-path). The staged-then-swapped
        file set is the parquet-state analogue of Delta's atomic log
        commit, minus multi-process isolation.

        Returns the number of rows in the compacted log.
        """
        with self._op_lock:
            log = self._read("batch_log", _BATCH_LOG_SCHEMA)
            compacted = (
                log.groupBy("batch_id")
                .agg(F.max(F.struct("log_seq", "status")).alias("m"))
                .select(
                    "batch_id",
                    F.col("m.status").alias("status"),
                    F.col("m.log_seq").alias("log_seq"),
                )
            )
            if not self.durable:
                rows = [
                    Row(batch_id=r.batch_id, status=r.status, log_seq=r.log_seq)
                    for r in compacted.collect()
                ]
                self._mem["batch_log"] = rows
                return len(rows)
            import shutil

            staged = self._path("batch_log__compacted")
            retired = self._path("batch_log__retired")
            compacted.write.mode("overwrite").parquet(staged)
            n = self.spark.read.parquet(staged).count()
            shutil.rmtree(retired, ignore_errors=True)
            if os.path.exists(self._path("batch_log")):
                os.rename(self._path("batch_log"), retired)
            os.rename(staged, self._path("batch_log"))
            shutil.rmtree(retired, ignore_errors=True)
            return n

    # -- A18: state truncation ----------------------------------------------

    def reset(self) -> None:
        """resetState() (src/app.js:225-235): truncate every state table
        and restart sequence counters — the test-harness hook. On a Delta
        deployment this is TRUNCATE TABLE; on raw parquet state it drops
        the directories."""
        import shutil

        with self._op_lock:
            for name in (
                "ingestions",
                "batches",
                "batch_log",
                "batch_log__compacted",
                "batch_log__retired",
                "processed",
            ):
                shutil.rmtree(self._path(name), ignore_errors=True)
            self._mem.clear()
            self._request_seq = 0
            self._log_seq = 0

    # -- always-on streaming drain (SURVEY §3.4) -----------------------------

    def start_streaming_drain(self, trigger_seconds: float = 5.0):
        """The deployment form of the drain loop: an always-on Structured
        Streaming query whose triggers clock ``drain_step`` — a rate source
        provides the heartbeat, ``foreachBatch`` performs the top-1 dequeue
        + process + status transitions. One query = one active trigger at a
        time (A13 for free); ``trigger_seconds`` plays the reference's 5 s
        pacing (A12 — fixed-period flavor; gap-after-work fidelity uses the
        manual ``drain_step`` loop with ``DrainConfig.batch_gap``).

        Returns the StreamingQuery; caller stops it.
        """
        heartbeat = (
            self.spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        )

        def tick(_batch_df, _epoch) -> None:
            self.drain_step()

        return (
            heartbeat.writeStream.foreachBatch(tick)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )

    # -- observability -------------------------------------------------------

    def queue_snapshot(self) -> DataFrame:
        """The pending set in dequeue order (A6) — what the reference's
        batchQueue array would contain."""
        return (
            self._batches_with_status()
            .filter(F.col("status") == STATUS_YET_TO_START)
            .withColumn("priority_level", priority_level("priority"))
            .orderBy(
                F.desc("priority_level"),
                F.asc("created_at"),
                F.asc("request_seq"),
                F.asc("batch_seq"),
            )
        )

    def processed_results(self) -> DataFrame:
        return self._read("processed", _PROCESSED_SCHEMA)
