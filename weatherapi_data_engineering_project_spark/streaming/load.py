"""Incremental stage→target loading (reference EP3), Spark-first.

The reference's load plane is: Snowpipe ``AUTO_INGEST`` copies each
arriving CSV into a stage table (``location.sql:22-26`` et al.), and a
4-hourly task MERGEs stage→target with audit counts and a gated
truncate (``location.sql:36-83``). The Spark-native equivalent:

- the *file stream* is a Structured Streaming file source over the
  curated prefix (exactly-once per file via the source's file log —
  the same semantic Snowpipe provides);
- the *MERGE task* is ``foreachBatch(upsert_path)``;
- the *cron schedule* is ``Trigger.AvailableNow`` under an external
  scheduler (or ``processingTime='4 hours'`` for a resident driver) —
  SURVEY.md §2.H O1;
- the *audit/truncate protocol* is subsumed by checkpointing, but the
  n0/n1 counts are still surfaced per batch for observability
  (``location.sql:38-79``).

Scale notes: file-source listing is incremental (the source's file
log); the stage is CSV by design (the reference's curated zone,
``DataTransformation.py:55-66``); the upsert's anti-join is the only
shuffle, keyed on the table pk. At 100 TB the target is partitioned
(e.g. by location_id bucket or date) so each micro-batch rewrites only
the partitions it touches — ``partition_by`` is plumbed through.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.upsert import upsert_path
from ..session import cloned_session


@dataclass
class TableLoad:
    """One stage-prefix → target-table incremental load."""

    name: str
    schema: T.StructType
    keys: list[str]
    partition_by: list[str] | None = None
    # Derived (SQL-expression) columns added to each batch BEFORE the
    # upsert — the mechanism that lets a table partition on an attribute
    # embedded in its key without changing the stage/CSV schema (the
    # curated zone stays byte-faithful to the reference's
    # DataTransformation.py output). Values must be deterministic
    # functions of stage columns; when they feed ``partition_by`` they
    # must be immutable attributes of the pk (upsert.py invariant).
    derived: dict[str, str] | None = None
    audit_log: list[tuple[int, int, int]] = field(default_factory=list)
    # M5 (location.sql:36-83): every load procedure in the reference is
    # wrapped in try/catch and returns a status string. One entry per
    # micro-batch: "Success: ..." or "Error: ...".
    status_log: list[tuple[int, str]] = field(default_factory=list)


def start_load(
    spark: SparkSession,
    load: TableLoad,
    stage_dir: str,
    target_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
    csv_mode: str = "PERMISSIVE",
    quarantine_dir: str | None = None,
    shuffle_partitions: int | None = 8,
):
    """Wire the stream: stage files → foreachBatch upsert into target.

    Returns the StreamingQuery. ``available_now=True`` drains all
    pending files then stops (the cron-task equivalent);
    ``processing_time`` keeps a resident micro-batch loop.

    ``shuffle_partitions`` (VERDICT r06 #5): the micro-batch upsert's
    anti-join shuffle inherits ``spark.sql.shuffle.partitions``; a
    vanilla session's 200 makes every batch pay 200-task exchanges for
    kilobyte batches. The stream runs on a cloned-and-pinned session
    (shared SparkContext, isolated SQLConf — session.cloned_session)
    so the caller's conf is honored but never mutated. Pass ``None``
    to run on the caller's session untouched (cluster deployments
    sizing the width globally).

    M5 error wrapper: each micro-batch's upsert runs under try/except
    — a poison batch appends an ``Error: ...`` status (and, when
    ``quarantine_dir`` is set, a best-effort parquet copy of the batch
    for replay) instead of killing the stream, mirroring the
    reference's per-procedure try/catch + status string
    (location.sql:36-83). Subsequent batches and other tables keep
    loading.
    """
    if shuffle_partitions is not None:
        spark = cloned_session(spark, shuffle_partitions)
    stream = (
        spark.readStream.schema(load.schema)
        # curated zones nest per-run/per-day subdirs under the table
        # prefix (mirroring the reference's S3 key layout); discover
        # them all
        .option("recursiveFileLookup", True)
        .option("header", True)
        .option("quote", '"')
        .option("mode", csv_mode)
        .csv(stage_dir)
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        try:
            # head() is the first action on the batch — a poison file
            # (e.g. FAILFAST parse error) surfaces here, so it must sit
            # inside the M5 wrapper too.
            if not batch.head(1):
                return
            for col, expr in (load.derived or {}).items():
                batch = batch.withColumn(col, F.expr(expr))
            n0, n1 = upsert_path(
                batch.sparkSession,
                target_path,
                batch,
                keys=load.keys,
                partition_by=load.partition_by,
            )
        except Exception as exc:  # noqa: BLE001 — M5: any batch failure
            load.status_log.append(
                (batch_id, f"Error: {type(exc).__name__}: {exc}")
            )
            if quarantine_dir is not None:
                try:
                    batch.write.mode("append").parquet(
                        os.path.join(quarantine_dir, load.name)
                    )
                except Exception:  # noqa: BLE001 — quarantine best-effort
                    pass
            return
        # the reference's post-merge audit (location.sql:62-79): equal
        # counts == every staged key landed; surfaced, not gating —
        # checkpointing already guarantees exactly-once per file.
        load.audit_log.append((batch_id, n0, n1))
        load.status_log.append(
            (batch_id, f"Success: merged {n0} staged keys, {n1} landed")
        )

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_available_now(
    spark: SparkSession,
    load: TableLoad,
    stage_dir: str,
    target_path: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
    **kwargs,
) -> list[tuple[int, int, int]]:
    """One cron-equivalent drain: process all pending stage files, wait
    for completion, return the audit log entries appended this run.

    A drain still running after ``timeout_s`` is stopped and logs an
    ``Error`` status (batch id -1: it belongs to the drain, not to one
    batch), so ``gated_stage_cleanup`` keeps the stage files it never
    read."""
    before = len(load.audit_log)
    q = start_load(
        spark, load, stage_dir, target_path, checkpoint_dir,
        available_now=True, **kwargs,
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        load.status_log.append((-1, f"Error: drain timed out after {timeout_s}s"))
    return load.audit_log[before:]


def gated_stage_cleanup(
    stage_dir: str,
    archive_dir: str,
    run_entries: list[tuple[int, int, int]],
    status_entries: list[tuple[int, str]] | None = None,
) -> bool:
    """M3 faithful mode: the reference's audit-gated TRUNCATE applied to
    the curated zone (location.sql:71-79 + the S7 archive protocol).

    After a drain, if every batch's pre-merge distinct count equals its
    post-merge landed count (n0 == n1) and no batch errored, the
    consumed stage files are archived (moved under ``archive_dir``,
    preserving relative paths) — the Spark twin of ``TRUNCATE stage``
    with S7's copy-to-history. On any mismatch or error the stage is
    retained for retry, exactly as the reference keeps the stage table
    and reports both counts. Returns True iff the stage was archived.

    Exactly-once is already guaranteed by the streaming checkpoint;
    this gate exists for protocol parity and for operators who want
    the reference's retry-visible staging semantics.
    """
    audits_match = all(n0 == n1 for _, n0, n1 in run_entries)
    no_errors = not any(
        s.startswith("Error") for _, s in (status_entries or [])
    )
    if not (audits_match and no_errors):
        return False
    os.makedirs(archive_dir, exist_ok=True)
    for root, _dirs, files in os.walk(stage_dir):
        for f in files:
            if f.startswith((".", "_")):
                continue  # hidden/metadata files aren't staged data
            src = os.path.join(root, f)
            rel = os.path.relpath(src, stage_dir)
            dst = os.path.join(archive_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(src, dst)
    return True
