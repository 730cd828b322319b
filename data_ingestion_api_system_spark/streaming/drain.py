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
  ``batches ⟕anti batch_log ON batch_id ORDER BY priority_level DESC,
  created_at ASC, request_seq ASC, batch_seq ASC`` evaluated per trigger —
  identical preemption semantics to the reference's sort-on-insert queue
  (test/test_api.js:216-267: HIGH submitted later overtakes queued LOW).
  The anti-join is exact because only ``triggered`` and ``completed`` are
  ever logged (:meth:`IngestionPipeline._log` refuses anything else), so a
  batch with any log row is no longer ``yet_to_start``; replayed
  duplicates and compaction keep that true. On Spark it executes as a
  broadcast ``LeftAnti`` join feeding TakeOrderedAndProject (per-partition
  heap + driver merge, no shuffle, no global sort). Each step still scans
  ``batches`` and the whole log, so its cost grows with the state tables.
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
        query semantics and no state on disk; used by the fast test suite
        (durable-mode tests keep the parquet path covered).

        Every join and top-k runs through Spark in both modes. The one
        driver-side step is :meth:`status`'s last-write-wins pick per batch
        over the few joined rows of a single ingestion.

        Reopening a durable state dir resumes ``request_seq`` and
        ``log_seq`` after the largest stored value (see :meth:`_take`), so
        both stay global orders across restarts."""
        self.spark = spark
        self.state_dir = state_dir
        self.config = config or DrainConfig()
        self.clock = clock or (lambda: datetime.now(timezone.utc))
        self.durable = durable
        self._seq: dict[str, int | None] = dict.fromkeys(
            ("request_seq", "log_seq"), None if durable else 0
        )
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

    def _take(self, column: str, name: str, schema: T.StructType) -> int:
        """The next ``request_seq`` or ``log_seq``. A durable pipeline
        starts each counter, on first use, one past the largest value stored
        in table ``name``: one aggregate, and no Spark job while the table
        does not exist."""
        n = self._seq[column]
        if n is None:
            top = None
            if os.path.exists(self._path(name)):
                top = self._read(name, schema).agg(F.max(column)).head()[0]
            n = 0 if top is None else top + 1
        self._seq[column] = n + 1
        return n

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
        seq = self._take("request_seq", "ingestions", _INGESTIONS_SCHEMA)
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

    # -- A14-A17: status -----------------------------------------------------

    def status(self, ingestion_id: str) -> dict:
        """GET /status/:id — point lookup (A14), child join (A15), rollup
        (A16), nested response projection (A17)."""
        with self._op_lock:
            return self._status_locked(ingestion_id)

    def _status_locked(self, ingestion_id: str) -> dict:
        joined = (
            self._read("batches", _BATCHES_SCHEMA)
            .filter(F.col("ingestion_id") == ingestion_id)
            .join(self._read("batch_log", _BATCH_LOG_SCHEMA), "batch_id", "left")
            .select("batch_id", "batch_seq", "ids", "status", "log_seq")
            .fillna(STATUS_YET_TO_START, subset=["status"])
            .collect()
        )
        if not joined and not (
            self._read("ingestions", _INGESTIONS_SCHEMA)
            .filter(F.col("ingestion_id") == ingestion_id)
            .head(1)
        ):
            raise NotFound(ingestion_id)
        # Last write wins per batch: the highest (log_seq, status), the
        # struct-max that compact_log folds with. An unlogged batch has
        # one row.
        latest: dict[str, Row] = {}
        for r in joined:
            kept = latest.get(r.batch_id)
            if kept is None or (r.log_seq, r.status) > (kept.log_seq, kept.status):
                latest[r.batch_id] = r
        rows = sorted(latest.values(), key=lambda r: r.batch_seq)
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

    def _next_pending(self) -> list[Row]:
        """A7: the first two pending batches — TakeOrderedAndProject, not a
        global sort. The second only tells :meth:`drain_all` whether another
        step has work, at no extra job."""
        return self.queue_snapshot().head(2)

    def _log(self, batch_id: str, status: str) -> None:
        if status not in (STATUS_TRIGGERED, STATUS_COMPLETED):
            # queue_snapshot reads "has a log row" as "not yet_to_start"
            raise ValueError(f"cannot log status {status!r}")
        seq = self._take("log_seq", "batch_log", _BATCH_LOG_SCHEMA)
        self._append(
            "batch_log",
            [Row(batch_id=batch_id, status=status, log_seq=seq)],
            _BATCH_LOG_SCHEMA,
        )

    def drain_step(self) -> str | None:
        """One drain cycle (one loop body of src/app.js:65-96). Returns the
        processed batch_id, or None if the queue was empty."""
        with self._op_lock:
            return self._drain_step_locked()[0]

    def _drain_step_locked(self) -> tuple[str | None, bool]:
        """(processed batch_id or None, whether the dequeue saw another
        pending batch)."""
        head = self._next_pending()
        if not head:
            return None, False
        batch = head[0]
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
        return batch.batch_id, len(head) > 1

    def drain_all(self, max_steps: int = 10_000) -> int:
        """Drain until empty (the full processBatches loop). Returns the
        number of batches processed. The loop ends after the step whose
        dequeue saw no second pending batch, without an empty step; an
        ingest that lands after that dequeue waits for the next call (the
        HTTP shim makes one)."""
        n, more = 0, True
        while more and n < max_steps:
            with self._op_lock:
                batch_id, more = self._drain_step_locked()
            if batch_id is None:
                break
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

        The fold is the per-key ``max(struct(log_seq, status))`` that
        :meth:`status` applies on the driver, and it keeps one row for every
        logged batch, so compaction is a pure no-op for query results — and
        it is idempotent under replayed/duplicate transitions because
        struct-max is insensitive to duplicates.
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
            self._seq = dict.fromkeys(self._seq, 0)

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
        batchQueue array would contain: the batches with no log row
        (``yet_to_start``; see the module docstring) under (priority DESC,
        created_at ASC, request_seq ASC, batch_seq ASC)."""
        return (
            self._read("batches", _BATCHES_SCHEMA)
            .join(self._read("batch_log", _BATCH_LOG_SCHEMA), "batch_id", "left_anti")
            .withColumn("status", F.lit(STATUS_YET_TO_START))
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
