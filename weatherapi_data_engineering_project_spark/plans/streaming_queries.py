"""Streaming-only queries for the driver harness.

These exercise genuinely non-SQL-expressible operators — custom
stateful streaming via ``applyInPandasWithState``, stream-stream
interval joins, watermarked windows — end to end: the events table is
replayed through a checkpointed file stream under
``Trigger.AvailableNow`` and the operator's emitted output is returned
as the query result. q42's integer-cent state makes its multi-batch
drain equal the batch GROUP BY twin exactly, so even the state-store
program carries a full ``oracle_sql`` differential; only q43 (foreign
sketch — DuckDB's HLL is not bit-comparable) stays rows-only, with
its published error bound checked via BOUNDS instead. q70's
single-micro-batch drain is oracle-COMPLETE, so the stream-stream
interval join is hash-verified like any batch query.

One drain skeleton serves every query here but q43 (the AvailableNow
stand-in for the reference's staged-files-then-MERGE loads). A drain
body only says what is particular to it — its replay, its operator,
its read-back — and leaves the rest to four helpers:

- ``_replay_dirs`` names its ``src`` (the replay the file stream
  reads), ``ckpt`` and ``out`` (the sink's parquet spill) in a fresh
  per-query, per-dataset work dir;
- ``_sentinel_wave`` appends the ONE sentinel wave of a
  sentinel-flush drain (q218 family, q266, q285, q292/q293), after
  the real files in arrival order; an empty replay gets none;
- ``_append_sink`` appends each micro-batch to ``out``;
  ``_swap_sink`` replaces ``out`` per batch (complete-mode tables,
  and q84's merge); only q42 keeps its own sink (it stamps the batch
  id);
- ``_drain`` starts the foreachBatch stream, waits, records plans and
  state metrics, and returns the spill read-back (an empty frame of
  the spill's schema when no batch wrote one).

Timeout policy: AvailableNow means "process everything available,
then stop". A drain still running after ``DRAIN_TIMEOUT_S`` is
stopped and raises ``TimeoutError`` naming the query — the rows
spilled so far would be a truncated answer, and nothing would say so.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import load_table
from ..session import cloned_session, scaled_state_width
from ..streaming.windows import (
    RUNNING_TOTALS_SCHEMA,
    bounded_interval_counts,
    bucketed_side_counts,
    idle_flush_totals,
    running_user_totals,
    session_counts,
    sliding_counts,
    stream_interval_join,
    streaming_exact_dedup,
)

# The wait every drain gets before it is stopped and raises (see the
# module docstring). BENCH_SCALE100_r10 records q218 at 100× past it.
DRAIN_TIMEOUT_S = 300


# Final-micro-batch plan capture (plan-audit support): when
# SPARK_GRAFT_CAPTURE_BATCH_PLANS is set, every drain records (a) the
# streaming engine's incremental physical plan of its LAST executed
# micro-batch (``explainInternal`` — StreamingSymmetricHashJoin /
# StateStoreSave / watermark nodes and their exchanges, keyed
# "<tag>/engine") and (b) the executed plan of whatever frame each
# foreachBatch sink writes (keyed "<tag>/sink" — for most drains
# that's a Scan ExistingRDD handoff, but q84's merge builds a real
# join-aggregate plan inside the sink). tools/plan_audit.py runs the
# same cartesian/BNLJ/global-sort/python-UDF lint on BOTH that it
# runs on batch queries — the inside of a drain was previously
# skipped, exactly where a silent nested-loop fallback would hide.
LAST_BATCH_PLANS: dict[str, str] = {}


def _audit_batch(tag: str, frame: DataFrame) -> None:
    if os.environ.get("SPARK_GRAFT_CAPTURE_BATCH_PLANS"):
        LAST_BATCH_PLANS[f"{tag}/sink"] = (
            frame._jdf.queryExecution().executedPlan().toString()
        )


# per-batch state-store row counts of each drain's LAST run, keyed by
# tag: [(batchId, numRowsTotal, numRowsRemoved), ...]. Written
# unconditionally (cheap — recentProgress is already on the driver) so
# eviction/boundedness assertions (tests/test_round9_queries.py, the
# streaming scale bench) read real engine metrics instead of inferring
# them from output: the differential proves the VALUES; this proves
# state stayed watermark-bounded and actually SHRANK on eviction.
LAST_STATE_METRICS: dict[str, list] = {}


def _audit_stream(tag: str, q) -> None:
    """Record the terminated query's final incremental physical plan
    and its per-batch state-store row counts."""
    if os.environ.get("SPARK_GRAFT_CAPTURE_BATCH_PLANS"):
        LAST_BATCH_PLANS[f"{tag}/engine"] = q._jsq.explainInternal(False)
    try:
        LAST_STATE_METRICS[tag] = [
            (
                p["batchId"],
                p["stateOperators"][0]["numRowsTotal"],
                p["stateOperators"][0].get("numRowsRemoved", 0),
            )
            for p in (json.loads(pp.json) for pp in q.recentProgress)
            if p.get("stateOperators")
        ]
    except Exception:  # noqa: BLE001 — metrics are best-effort evidence
        LAST_STATE_METRICS[tag] = []


def _replay_dirs(name: str, sf_dir: str) -> tuple[str, str, str]:
    """``src`` (the replay), ``ckpt`` and ``out`` (the sink's spill) in
    a deterministic per-query-per-dataset work dir, cleared on reuse so
    repeated invocations (bench runs each query N times) hold at most
    ONE replay copy + checkpoint on disk instead of leaking a fresh
    mkdtemp each run; the final copy is removed at interpreter exit."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    work = os.path.join(tempfile.gettempdir(), f"{name}_work_{tag}")
    if os.path.exists(work):
        shutil.rmtree(work, ignore_errors=True)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return tuple(os.path.join(work, d) for d in ("src", "ckpt", "out"))


def _dir_bytes(path: str) -> int:
    """Total bytes under ``path`` (the just-written replay dir) — the
    input-size signal scaled_state_width derives the drain's state
    shuffle width from."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _drain_session(spark: SparkSession, src: str, *, no_data_batches: bool = True):
    """Cloned session for one drain (see session.cloned_session), with

    - the state-shuffle width derived from the replay size
      (session.scaled_state_width — replaces the r07–r12 pinned 8;
      local corpora stay at the floor 8, so the bench is comparable,
      while a production-sized replay derives a proportional width),
    - ``spark.sql.streaming.noDataMicroBatches.enabled`` pinned
      EXPLICITLY per drain: ``True`` where the drain's oracle
      completeness RELIES on the engine's watermark-advance no-data
      batch (the sentinel-flush drains — since r13 they run ONE
      sentinel wave and let that final no-data batch, executing under
      the wave's advanced watermark, flush every remaining real row),
      ``False`` where the drain's entire output provably lands in its
      data batches (single-batch inner/semi/dedup drains: eviction
      emits nothing for those operators, so the trailing empty batch
      was a pure per-query constant — measured 0.3–0.8 s each)."""
    s2 = cloned_session(
        spark, shuffle_partitions=scaled_state_width(_dir_bytes(src))
    )
    s2.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batches else "false",
    )
    return s2


def _sentinel_wave(src: str, max_ts, wave) -> None:
    """Append a sentinel-flush drain's ONE sentinel wave to the replay
    in ``src``: ``wave(ts)`` builds the wave's rows around the sentinel
    timestamp column, +10 d past the real ``max_ts`` — far past every
    real window, so the watermark that follows the wave can close them
    all. An empty replay (``max_ts`` NULL) gets no wave: there is
    nothing to flush, and NULL + INTERVAL would type the sentinel
    ``ts`` as an interval the stream's declared schema cannot read.

    Deterministic file-source arrival order WITHOUT wall-clock
    sleeps (late r12): the real files are stamped with mtime ``base``
    and the wave's with ``base + 1``. Spark's FileStreamSource batches
    files in modification-time order, so a sentinel wave only needs
    mtimes strictly above the real files' — the 1 s sleep per
    wave this replaces paid ~2 s real wall per drain query (7+ bench
    queries in the streaming class) and still depended on filesystem
    timestamp granularity; an explicit ``os.utime`` is exact and
    free. Ties within one wave fall to path order, which is
    irrelevant because each wave fits one micro-batch by
    construction (maxFilesPerTrigger)."""
    if max_ts is None:
        return
    seen: set = set()

    def stamp(when: float) -> None:
        for dirpath, _dirs, files in os.walk(src):
            for f in files:
                p = os.path.join(dirpath, f)
                if p not in seen:
                    os.utime(p, (when, when))
                    seen.add(p)

    base = time.time()
    stamp(base)
    wave(F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")).write.mode(
        "append"
    ).parquet(src)
    stamp(base + 1)


def _append_sink(tag: str, out: str):
    """foreachBatch sink appending each micro-batch to the spill."""

    def sink(batch: DataFrame, bid: int) -> None:
        _audit_batch(tag, batch)
        batch.write.mode("append").parquet(out)

    return sink


def _swap_sink(tag: str, out: str, fold=None):
    """foreachBatch sink REPLACING the spill per micro-batch: the batch
    — or ``fold(batch)``, a frame that folds in the current spill — is
    written to a tmp dir and renamed over ``out``, so the spill is
    always one whole table."""

    def sink(batch: DataFrame, bid: int) -> None:
        frame = batch if fold is None else fold(batch)
        _audit_batch(tag, frame)
        tmp = f"{out}.tmp-{bid}"
        frame.write.mode("overwrite").parquet(tmp)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)

    return sink


def _drain(
    spark: SparkSession,
    tag: str,
    frame: DataFrame,
    sink,
    ckpt: str,
    out: str,
    mode: str,
    empty_schema: str,
) -> DataFrame:
    """Run the streaming ``frame`` through ``sink`` under
    ``Trigger.AvailableNow`` with its checkpoint in ``ckpt``, record
    its plans and state metrics (_audit_stream) and return the spill
    read back from ``out`` — or, when no batch wrote one, an empty
    frame of ``empty_schema`` (the spill's schema, so the caller's
    read-back shaping applies to either). A drain not finished after
    DRAIN_TIMEOUT_S is stopped and raises ``TimeoutError``."""
    q = (
        frame.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{tag}: AvailableNow drain still running after "
            f"{DRAIN_TIMEOUT_S}s; stopped it rather than return a "
            "truncated result"
        )
    _audit_stream(tag, q)
    if not os.path.exists(out):  # no data emitted
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(out)


def q42_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the stateful per-user totals operator.

    MULTI-batch AvailableNow drain (4 replay files, maxFilesPerTrigger
    = 1): state is built per user in the state store (keyed shuffle)
    across four genuine micro-batches, the final update per user is the
    row emitted here. Output: (user_id, n_events, sum_value, last_ts),
    one row per user.

    Stream-vs-batch equivalence oracle (VERDICT r05 #1): the state
    holds EXACT integer cents (streaming/windows._update_running_totals
    — integer addition is order-independent), so the drained totals
    equal the batch ``GROUP BY user_id`` twin bit-for-bit regardless of
    batch boundaries, and DuckDB can state that twin directly — the
    multi-batch drain still exercises the real state store while the
    differential hash-certifies what it computed (q84's additive-merge
    argument applied to applyInPandasWithState state).

    The harness sink stays distributed: each micro-batch's updates are
    appended to a parquet spill dir (stamped with the batch id) and the
    last update per user is selected by a Spark window afterwards — no
    ``collect()`` of batch contents on the driver, so the replay works
    at any scale the state store itself supports. NOTE: the returned
    frame reads lazily from this invocation's spill dir; it stays valid
    until the next q42 invocation clears it.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    src, ckpt, out = _replay_dirs("q42", sf_dir)
    # replay only the columns the operator folds (user_id, ts, value —
    # running_user_totals projects to exactly these anyway): the setup
    # write, the per-batch scan and the Arrow hand-off all skip the
    # event_type/props strings (guide §2.3 project early; measured
    # −1.1 s at sf0.1 on the 4-batch drain)
    ev.select("user_id", "ts", "value").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)

    def sink(batch: DataFrame, bid: int) -> None:
        _audit_batch("q42", batch)
        batch.withColumn("q42_batch_id", F.lit(bid)).write.mode(
            "append"
        ).parquet(out)

    # The state shuffle inherits spark.sql.shuffle.partitions; a vanilla
    # session's 200 means 200 state-store files per micro-batch for a
    # 150-user keyspace. Derive a sane width from the replay size on a
    # CLONED session (shared SparkContext, isolated SQLConf;
    # semantics-bearing runtime confs copied over — _drain_session).
    # no_data_batches is moot here (NoTimeout + no watermark — the
    # engine never schedules one), so the default stays
    s2 = _drain_session(spark, src)
    updates = _drain(
        spark,
        "q42",
        running_user_totals(
            s2.readStream.schema("user_id bigint, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        ),
        sink,
        ckpt,
        out,
        "update",
        f"{RUNNING_TOTALS_SCHEMA}, q42_batch_id int",
    )
    # last emitted update per user is the final total — one window pass,
    # computed by Spark over the spill dir
    w = Window.partitionBy("user_id").orderBy(F.col("q42_batch_id").desc())
    keep = [c for c in updates.columns if c != "q42_batch_id"]
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*keep)
    )


def q43_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 at scale: HyperLogLog++ distinct-user counts per event type.

    The exact COUNT(DISTINCT pk) audits (q05/q14) shuffle every distinct
    key; at 100 TB the audit runs on sketches instead — constant memory
    per group, mergeable across partitions. Rows-only: DuckDB's
    approx_count_distinct uses a different sketch, so values are not
    cross-engine comparable by construction (the exact twins are the
    oracle-verified queries; tests bound this one's error vs exact).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )


# spill schema of the q70/q218-family interval-join drains
_JOIN_SCHEMA = (
    "user_id bigint, event_id bigint, ts timestamp, "
    "p_event_id bigint, p_ts timestamp, lag_us bigint"
)


def q70_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run through the REAL streaming
    engine — click (even event_id) → purchase (odd event_id) pairs of
    the same user within 1 hour, state-store buffered, drained under
    ``Trigger.AvailableNow``, spilled to parquet per micro-batch (no
    driver collect).

    Like q76 this one DOES carry a SQL oracle: the replay is written
    as a SMALL MULTI-FILE layout (8 files — parallel setup write,
    multi-file source discovery) but drained with no
    ``maxFilesPerTrigger``, so AvailableNow takes every available file
    in ONE micro-batch: no watermark eviction can precede any match
    and the streaming result equals the batch interval join exactly.
    (Multi-BATCH drains trade that completeness for bounded lateness —
    the production contract; tests/test_streaming_windows.py pins the
    watermark semantics and the file-count invariance of this drain.)
    Hash-matching DuckDB here certifies the streaming join plan itself.
    """
    ev = load_table(spark, sf_dir, "events")
    src, ckpt, out = _replay_dirs("q70", sf_dir)
    # multi-file replay, one micro-batch ⇒ oracle-complete (see above)
    ev.select("event_id", "ts", "user_id").coalesce(8).write.mode(
        "overwrite"
    ).parquet(src)
    # cloned session: derived state-shuffle width + copied runtime
    # confs without mutating the caller's (possibly shared) session —
    # see q42. no_data_batches=False: the single-batch INNER join
    # emits every row in its one data batch; the trailing no-data
    # batch only retires state and can emit nothing, so it is skipped.
    s2 = _drain_session(spark, src, no_data_batches=False)
    stream = s2.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint"
    ).parquet(src)
    joined = stream_interval_join(
        stream.filter(F.col("event_id") % 2 == 0),
        stream.filter(F.col("event_id") % 2 == 1),
        max_lag="1 hour",
        watermark="2 hours",
    )
    return _drain(
        spark, "q70", joined, _append_sink("q70", out), ckpt, out,
        "append", _JOIN_SCHEMA,
    )


def _drain_sentinel_interval_join(
    spark: SparkSession, sf_dir: str, tag: str, how: str
) -> DataFrame:
    """The q218 sentinel-flush drain, shared by the left- and
    full-outer variants (q218/q239): replay events as 8 files (one
    micro-batch), then ONE sentinel wave (+10 d, both join parities)
    that advances the watermark far past every real window; the
    engine's final no-data micro-batch (pinned on via _drain_session —
    it runs exactly because the wave moved the watermark) executes
    under that advanced watermark and flushes EVERY remaining
    outer-null row before stop. (r13: this replaces the second +20 d
    wave, whose only job was to be a batch running under wave 1's
    watermark — the no-data batch is that batch, one sentinel write
    job and one replayed micro-batch cheaper; parity verified
    row-identical at sf0.001 + sf0.01 for both outer variants.)
    Sentinel participations filter out on read-back by id sign — never
    on the streaming plan (a left-side predicate would push through
    the outer join into the scan and starve the watermark node; see
    q218's docstring)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    src, ckpt, out = _replay_dirs(tag, sf_dir)
    ev.repartition(8).write.mode("overwrite").parquet(src)
    max_ts = ev.agg(F.max("ts").alias("m")).first().m
    # one wave, two rows (ids −1/−2 — one per join-side parity, so both
    # sides' watermark columns see the jump); the flush batch itself is
    # the engine's no-data batch, not a second wave
    _sentinel_wave(
        src,
        max_ts,
        lambda ts: spark.range(1, 3, 1, 2).select(
            (-F.col("id")).alias("event_id"),
            ts.alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
        ),
    )
    s2 = _drain_session(spark, src, no_data_batches=True)
    stream = (
        s2.readStream.schema("event_id bigint, ts timestamp, user_id bigint")
        .option("maxFilesPerTrigger", 8)
        .parquet(src)
    )
    joined = stream_interval_join(
        stream.filter(F.col("event_id") % 2 == 0),
        stream.filter(F.col("event_id") % 2 != 0),
        max_lag="1 hour",
        watermark="2 hours",
        how=how,
    )
    spill = _drain(
        spark, tag, joined, _append_sink(tag, out), ckpt, out, "append",
        _JOIN_SCHEMA,
    )
    # sentinel filter on read-back: either side's id < 0 marks a
    # sentinel participation (full_outer rows may carry NULL on one
    # side — coalesce treats the absent side as real)
    return spill.filter(
        (F.coalesce(F.col("event_id"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("p_event_id"), F.lit(0)) >= 0)
    )


def q218_stream_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join through the REAL
    engine: click (even event_id) → purchase (odd event_id) pairs of
    the same user within 1 hour, where a click with NO purchase in its
    window is emitted with a NULL right side — attribution's
    "never-converted" rows, which the engine may only emit once the
    watermark proves a late purchase impossible. This is the
    watermark-EVICTION semantics q70's inner join never exercises:
    outer results exist ONLY because state aged out.

    Oracle completeness via the sentinel-flush protocol: the real
    events replay as 8 files taken in micro-batch 1; ONE sentinel wave
    (one row per join-side parity, event_id −1/−2, at +10 d past the
    real max ts) lands in micro-batch 2 under ``maxFilesPerTrigger=8``.
    Batch 2's watermark (= real max − 2 h delay) evicts-and-emits most
    unmatched clicks; the engine's final no-data micro-batch — pinned
    on via _drain_session, scheduled exactly because the wave advanced
    the watermark to sentinel − 2 h, far past every real window —
    flushes the rest. So by stop, EVERY real click has either its
    matches or its NULL row, and the result equals the batch LEFT JOIN
    exactly (sentinels filtered by id sign; they can match nothing
    real). Per-batch parquet spill, no driver collect.

    Mechanics notes (shared drain, _drain_sentinel_interval_join):
    exactly 8 real files (repartition, NOT coalesce — a single-split
    scan cannot be coalesced UP) fill micro-batch 1 under
    maxFilesPerTrigger=8. Sentinel parity: Spark's % keeps the sign,
    so the LEFT filter (% 2 == 0) catches −2 and the RIGHT filter
    catches −1 — each side's watermark column sees the jump.
    Watermarks advance only BETWEEN micro-batches; the flush batch
    after the wave is the engine's no-data batch (r13 — previously a
    second +20 d wave played that role). Wave mod-times are stamped
    explicitly (_sentinel_wave — late r12; replaced the 1 s sleeps
    per wave); spark.range(lo, hi, 1, n) yields n non-empty files in
    ONE job."""
    return _drain_sentinel_interval_join(spark, sf_dir, "q218", "left_outer")


def q239_stream_full_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join through the real engine:
    q218's click→purchase attribution, now ALSO emitting orphan
    purchases — conversions with no attributable click inside the
    look-back window, the rows a marketing pipeline books as "organic".
    Both directions of null-emission are watermark-EVICTION results:
    an unmatched click flushes when the purchase watermark passes its
    window, an unmatched purchase when the click watermark does — the
    symmetric state-retirement semantics only a full outer join
    exercises (left_outer retires right-side state silently).

    Same sentinel-flush drain as q218 (both parities ride every wave,
    so both sides' watermarks jump together); user_id coalesces across
    sides so right-only rows keep their key. Oracle: the batch FULL
    JOIN with the identical interval condition."""
    return _drain_sentinel_interval_join(spark, sf_dir, "q239", "full_outer")


def q279_stream_right_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the orphan-purchase
    report alone: every purchase, with its attributing click when one
    exists and NULL left side when the CLICK watermark proves no click
    can still arrive. Completes the streaming join-type matrix
    (inner q70, left q218, full q239, semi q256): right-outer retires
    LEFT-side state silently and emits on RIGHT-side eviction — the
    mirror semantics of q218, exercised through the same shared
    sentinel-flush drain (both parities ride every wave). user_id
    coalesces across sides so right-only rows keep their key."""
    return _drain_sentinel_interval_join(
        spark, sf_dir, "q279", "right_outer"
    )


def q76_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup run through the REAL streaming engine:
    the events table plus planted re-deliveries (an exact copy of every
    10th event — the at-least-once delivery failure mode) is drained
    through ``dropDuplicatesWithinWatermark`` state under
    ``Trigger.AvailableNow``.

    Like q70, the multi-file replay (8 files, parallel setup write)
    drains with no ``maxFilesPerTrigger`` ⇒ ONE micro-batch ⇒ no
    watermark eviction precedes any duplicate, so the streaming result
    equals the batch DISTINCT exactly and the query carries a full SQL
    oracle — hash-certifying the streaming dedup plan itself. The
    planted duplicates are byte-identical rows, so the
    keep-first-arrival semantics cannot leak batch ordering into the
    result."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    src, ckpt, out = _replay_dirs("q76", sf_dir)
    ev.unionAll(ev.filter(F.col("event_id") % 10 == 0)).coalesce(8).write.mode(
        "overwrite"
    ).parquet(src)
    # no_data_batches=False: the single-batch drain finds every
    # duplicate in its one data batch; dedup-state eviction emits
    # nothing, so the trailing no-data batch was a pure constant
    s2 = _drain_session(spark, src, no_data_batches=False)
    stream = s2.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint"
    ).parquet(src)
    deduped = streaming_exact_dedup(
        stream, ["event_id"], ts_col="ts", watermark="2 hours"
    )
    return _drain(
        spark, "q76", deduped, _append_sink("q76", out), ckpt, out,
        "append", "event_id bigint, ts timestamp, user_id bigint",
    )


def q84_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the events stream drains
    in MULTIPLE micro-batches (4 replay files, maxFilesPerTrigger=1)
    and each batch's PARTIAL (hour, event_type) aggregate is
    additively MERGED into the rollup warehouse — read current, union
    partials, re-aggregate, swap. Because count and decimal-sum are
    merge-safe (associative + exact), the final table equals the batch
    GROUP BY REGARDLESS of batch boundaries — so unlike the interval
    join (q70, single-batch caveat) this oracle certifies genuinely
    incremental multi-batch maintenance. The per-batch merge cost
    scales with |rollup| + |batch partials| (hours × types, not raw
    events) — the continuous-aggregate property that makes hypertable
    rollups viable at stream scale.
    """
    ev = load_table(spark, sf_dir, "events")
    src, ckpt, out = _replay_dirs("q84", sf_dir)
    ev.select("event_id", "ts", "event_type", "value").repartition(
        4
    ).write.mode("overwrite").parquet(src)

    def merge(batch: DataFrame) -> DataFrame:
        part = batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )
        if os.path.exists(out):
            cur = batch.sparkSession.read.parquet(out)
            part = (
                cur.unionByName(part)
                .groupBy("hour_start", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sv").alias("sv"),
                )
            )
        return part

    # the stream itself is stateless (the merge lives in foreachBatch,
    # whose groupBy inherits the clone's derived shuffle width); no
    # watermark ⇒ no no-data batch either way
    s2 = _drain_session(spark, src, no_data_batches=False)
    res = _drain(
        spark,
        "q84",
        s2.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        _swap_sink("q84", out, fold=merge),
        ckpt,
        out,
        "update",
        "hour_start timestamp, event_type string, "
        "n_events bigint, sv decimal(38,6)",
    )
    return res.select(
        "hour_start",
        "event_type",
        "n_events",
        F.col("sv").cast("double").alias("sum_value"),
    )


def q121_stream_session_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gap-based session windows through the REAL streaming engine:
    the events replay drains under ``Trigger.AvailableNow`` into the
    built-in ``session_window`` aggregation (30-minute gap) in
    COMPLETE output mode, each trigger overwriting the session table —
    so the drained result equals batch gap-sessionization regardless
    of watermark progress (append mode would hold back every session
    younger than the watermark delay and silently truncate the tail).

    The oracle states session_window's merge rule as gaps-and-islands
    SQL verbatim: a new session starts iff the gap since the previous
    event is >= 30 minutes (window intervals are [ts, ts+gap)), and
    session_end is last_ts + gap. Decimal-exact value sums make the
    per-session aggregate batch-boundary-independent, exactly like
    q84's additive merge.

    Scale shape: session state is per-user and watermark-bounded in a
    production append-mode run; the complete-mode drain here is the
    oracle harness, not the deployment shape (the operator itself —
    ``streaming/windows.session_counts`` — is the same either way).
    """
    ev = load_table(spark, sf_dir, "events")
    src, ckpt, out = _replay_dirs("q121", sf_dir)
    # multi-file replay (complete-mode drain is batch-count-invariant
    # anyway, so file layout affects only setup parallelism here)
    ev.select("event_id", "ts", "user_id", "value").coalesce(8).write.mode(
        "overwrite"
    ).parquet(src)
    # no_data_batches=False: COMPLETE mode emits the whole session
    # table in the data batch; the trailing no-data batch would only
    # overwrite `out` with the identical table (measured ~0.5 s)
    s2 = _drain_session(spark, src, no_data_batches=False)
    sessions = session_counts(
        s2.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, value double"
        ).parquet(src),
        gap="30 minutes",
        watermark="8 hours",
    )
    return _drain(
        spark, "q121", sessions, _swap_sink("q121", out), ckpt, out,
        "complete",
        "user_id bigint, session_start timestamp, "
        "session_end timestamp, n_events bigint, sum_value double",
    ).select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


def q136_stream_sliding_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding (hopping) event-time windows through the REAL streaming
    engine: the events replay drains under ``Trigger.AvailableNow``
    into a 1-hour window sliding every 15 minutes (each event lands in
    4 overlapping windows), COMPLETE output mode so the drained table
    equals the batch computation regardless of watermark progress —
    the q121 harness pattern applied to ``F.window``'s slide arm,
    which q57's tumbling drain doesn't exercise.

    The oracle restates Spark's window assignment arithmetically:
    fixed-duration windows are epoch-aligned, so an event at ts lands
    in the 4 windows whose 15-minute slot index is
    floor(epoch_us/9e8) - {0,1,2,3} — integer slot math, no calendar
    functions, identical in both engines. Value sums are decimal-exact
    (batch-boundary-independent, q84's discipline).

    Scale shape: streaming state is O(windows_in_watermark × types),
    independent of stream length; the 4× row fan-out happens INSIDE
    the window operator's state update, never as a materialized
    explode of the stream."""
    ev = load_table(spark, sf_dir, "events")
    src, ckpt, out = _replay_dirs("q136", sf_dir)
    ev.select("event_id", "ts", "event_type", "value").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    # no_data_batches=False: complete-mode drain, same as q121
    s2 = _drain_session(spark, src, no_data_batches=False)
    windows = sliding_counts(
        s2.readStream.schema(
            "event_id bigint, ts timestamp, "
            "event_type string, value double"
        ).parquet(src),
        window="1 hour",
        slide="15 minutes",
        watermark="2 hours",
    )
    return _drain(
        spark, "q136", windows, _swap_sink("q136", out), ckpt, out,
        "complete",
        "window_start timestamp, window_end timestamp, "
        "event_type string, n_events bigint, sum_value double",
    ).select(
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


def q90_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment — the canonical streaming
    dimension join: each arriving event is joined (broadcast, zero
    stream-side shuffle for the join) to a STATIC per-user profile
    computed from the warehouse, then rolled up per event_type into
    counts of events beating their user's historical mean.

    Like q70/q76 the multi-file replay (8 files) drains with no
    ``maxFilesPerTrigger`` => one micro-batch, so the drained result
    equals the batch join exactly and the query carries a full SQL
    oracle — hash-certifying the stream-static join plan itself. The above-mean test multiplies through by the count
    (value * n > sum, all exact decimal) instead of dividing, so no
    float division enters the comparison on either engine.

    Scale: the profile is dimension-sized and explicitly broadcast;
    the stream side never shuffles before the (map-side) join; the
    rollup is a partial agg over event_type. At production scale the
    profile would refresh per trigger from the upsert path (M1) —
    the join plan is identical.
    """
    ev = load_table(spark, sf_dir, "events")
    src, ckpt, out = _replay_dirs("q90", sf_dir)
    ev.select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).coalesce(8).write.mode("overwrite").parquet(src)
    # no_data_batches=False: single-batch update-mode agg with no
    # watermark — every group emits in the data batch
    s2 = _drain_session(spark, src, no_data_batches=False)
    profile = (
        load_table(s2, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("hist_sum"),
            F.count(F.lit(1)).alias("hist_n"),
        )
    )
    stream = s2.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double"
    ).parquet(src)
    above = (
        F.col("value").cast("decimal(18,2)") * F.col("hist_n")
        > F.col("hist_sum")
    ).cast("long")
    agg = (
        stream.join(F.broadcast(profile), "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(above).alias("n_above_user_mean"),
        )
    )
    res = _drain(
        spark, "q90", agg, _append_sink("q90", out), ckpt, out, "update",
        "event_type string, n_events bigint, n_above_user_mean bigint",
    )
    return res.select(
        "event_type",
        "n_events",
        "n_above_user_mean",
        F.round(F.col("n_above_user_mean") / F.col("n_events"), 6).alias(
            "above_ratio"
        ),
    )


def q256_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join through the real engine:
    clicks (even event_id) that CONVERTED — at least one purchase (odd
    event_id) by the same user within 1 hour — each emitted exactly
    once, with no right-side columns. The attribution filter shape:
    downstream wants the converted clicks themselves, not the
    (click, purchase) pairs q70 produces, and the semi join keeps the
    output linear in clicks when a click can match many purchases.

    Drain protocol: like q70, the 8-file replay drains in ONE
    AvailableNow micro-batch, so no watermark eviction precedes any
    match and the streaming result equals the batch semi join — which
    is what lets a stream-stream SEMI join carry an exact SQL oracle
    (DuckDB SEMI JOIN with the same interval condition). State bounds
    in a live run are identical to the inner join's: both sides buffer
    under both watermarks; emitted-left tracking is part of the same
    state entry."""
    ev = load_table(spark, sf_dir, "events")
    src, ckpt, out = _replay_dirs("q256", sf_dir)
    ev.select("event_id", "ts", "user_id").coalesce(8).write.mode(
        "overwrite"
    ).parquet(src)
    # no_data_batches=False: the semi join emits a left row on its
    # FIRST match, all of which land in the single data batch;
    # eviction retires unmatched state silently
    s2 = _drain_session(spark, src, no_data_batches=False)
    stream = s2.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint"
    ).parquet(src)
    joined = stream_interval_join(
        stream.filter(F.col("event_id") % 2 == 0),
        stream.filter(F.col("event_id") % 2 == 1),
        max_lag="1 hour",
        watermark="2 hours",
        how="left_semi",
    )
    return _drain(
        spark, "q256", joined, _append_sink("q256", out), ckpt, out,
        "append", "user_id bigint, event_id bigint, ts timestamp",
    )


def q266_stream_append_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked tumbling-window aggregation in APPEND mode through
    the real engine: per (epoch day × event type), event count and
    exact cent sum — where a window row emits ONLY once the watermark
    proves it final (append mode's contract: each window exactly once,
    immutable). q42/q84 exercise update-mode state; this is the
    finalization path — the one that silently LOSES the last windows
    under a naive AvailableNow drain, because watermarks advance only
    between micro-batches and no trailing batch runs.

    Drain: the q218 sentinel protocol adapted to aggregation — 8 real
    files fill micro-batch 1; ONE sentinel wave at +10 d runs batch 2
    (emitting every window final under the real-data watermark), and
    the engine's no-data batch — pinned on via _drain_session, running
    under the wave's advanced watermark — finalizes the rest before
    stop (r13: replaces the second +20 d wave, whose only job was to
    be that batch; parity oracle-verified at sf0.001/sf0.01).
    Sentinel rows form far-future windows filtered on READ-BACK by the
    real max day index — never on the streaming plan (a pre-aggregation
    filter would hide the sentinels from the watermark node, the q218
    trap). The differential therefore certifies the append-mode
    finalization semantics themselves: the streamed result equals the
    batch GROUP BY exactly."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    src, ckpt, out = _replay_dirs("q266", sf_dir)
    ev.repartition(8).write.mode("overwrite").parquet(src)
    stats = ev.agg(
        F.max("ts").alias("m"),
        (F.max(F.unix_micros("ts")) / 86400000000)
        .cast("bigint")
        .alias("max_day"),
    ).first()
    _sentinel_wave(
        src,
        stats.m,
        lambda ts: spark.range(1, 2, 1, 1).select(
            ts.alias("ts"),
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
        ),
    )
    # no_data_batches=True: the final flush batch IS the engine's
    # no-data batch (see docstring)
    s2 = _drain_session(spark, src, no_data_batches=True)
    stream = (
        s2.readStream.schema(
            "ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 8)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("CAST(round(value * 100, 0) AS BIGINT)")
            ).alias("sum_cents"),
        )
        .select(
            (F.unix_micros(F.col("window.start")) / 86400000000)
            .cast("bigint")
            .alias("day_idx"),
            "event_type",
            "n_events",
            F.col("sum_cents").cast("bigint").alias("sum_cents"),
        )
    )
    spill = _drain(
        spark, "q266", agg, _append_sink("q266", out), ckpt, out, "append",
        "day_idx bigint, event_type string, n_events bigint, "
        "sum_cents bigint",
    )
    # max_day is NULL on an empty replay, and the filter then keeps
    # nothing — there is nothing to keep
    return spill.filter(F.col("day_idx") <= F.lit(stats.max_day))


def q285_stream_timeout_flush(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Idle-key state EVICTION through the real engine (VERDICT r08
    #7): per-user exact totals held silently in
    ``applyInPandasWithState`` state and emitted ONLY when the user's
    event-time timeout fires — ``GroupStateTimeout.EventTimeTimeout``,
    the session-gap idle-user flush (streaming/windows.
    idle_flush_totals). q42 proves stateful totals survive restarts;
    this proves state is RETIRED: every output row exists because the
    watermark passed last_ts + gap, the timeout branch ran, and the
    key was removed from the store. At 100 TB uncollected idle state
    is the #1 streaming OOM; this is the program shape that bounds it.

    Drain: the q266 sentinel protocol adapted to timeouts — 8 real
    files fill micro-batch 1 (timeouts set, nothing emitted); the
    +10 d wave's batch runs under watermark = real_max − 2 h (flushes
    users idle > 3 h before corpus end); the engine's no-data batch
    (pinned on via _drain_session — it runs exactly because the wave
    advanced the watermark to +10 d − 2 h, far past every real
    timeout) fires the remaining timeouts, so EVERY real user has
    flushed exactly once before stop (r13: replaces the second +20 d
    wave; parity verified row-identical with matching state metrics at
    sf0.001/sf0.01). The sentinel
    user (-1) keeps its state forever and never emits — filtered on
    read-back by id sign anyway (defense in depth; never on the
    streaming plan, the q218 trap). Per-batch parquet spill, no
    driver collect; per-batch state-store row counts are recorded in
    ``LAST_STATE_METRICS`` so tests can assert the store SHRANK to
    exactly the sentinel key after the flush.

    Oracle completeness: emission-only-on-timeout means the drained
    result equals the batch GROUP BY user_id IFF eviction fired for
    every user — the differential hash-certifies the timeout path
    itself (integer-cent exactness, q42's argument)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    src, ckpt, out = _replay_dirs("q285", sf_dir)
    ev.repartition(8).write.mode("overwrite").parquet(src)
    max_ts = ev.agg(F.max("ts").alias("m")).first().m
    _sentinel_wave(
        src,
        max_ts,
        lambda ts: spark.range(1, 2, 1, 1).select(
            F.lit(-1).cast("bigint").alias("user_id"),
            ts.alias("ts"),
            F.lit(0.0).alias("value"),
        ),
    )
    # no_data_batches=True: the final timeout-firing batch IS the
    # engine's no-data batch (see docstring)
    s2 = _drain_session(spark, src, no_data_batches=True)
    stream = (
        s2.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 8)
        .parquet(src)
    )
    return _drain(
        spark,
        "q285",
        idle_flush_totals(stream, watermark="2 hours"),
        _append_sink("q285", out),
        ckpt,
        out,
        "append",
        "user_id bigint, n_events bigint, sum_cents bigint, "
        "last_ts timestamp",
    ).filter(F.col("user_id") >= 0)


def q292_stream_bounded_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-state streaming attribution: q218's click→purchase
    pairing re-expressed so streaming state is O(active KEYS) instead
    of O(events-in-window) — the RUNTIME answer to the growth term
    BENCH_SCALE_r10 measured (q218's interval-join peak state grew
    100k → 1M rows at 10× events) and q291 prices. When the question
    downstream is an AGGREGATE (pairs per hour, not row-level pairs),
    the raw stream-stream join is the wrong program at 100 TB: its
    state holds every event inside the watermark horizon, so state
    scales with THROUGHPUT. This plan holds one counter row per
    (hour window × user × side) — at 10× throughput over the same
    user base the counter count is unchanged.

    Semantics trade (explicit, deterministic): the exact ±1 h interval
    becomes hour-BUCKET adjacency — a purchase attributes to every
    same-user click in its own or the previous hour bucket (a coverage
    superset of the 1 h interval; the standard coarsening when
    row-level pairing isn't required). The coarsening is what makes
    the state collapse legal: pair counts become arithmetic over
    counters, ``pairs[u,b] = clicks[u,b]·(purch[u,b] + purch[u,b+1])``,
    so the stream never needs to retain individual rows.

    Plan: ONE watermarked tumbling-window aggregation (append mode;
    q266's sentinel-flush drain finalizes every real window before the
    AvailableNow run stops), spilled per batch to parquet; the pairing
    is batch-side over the tiny counter table — two equi left joins on
    (user_id, hour_idx) then a per-hour rollup. Scale shape: the
    streaming shuffle is by (window, user, side) with map-side partial
    counts; the batch joins key on (user, hour) so 1000 executors
    pair 1000 key ranges independently; nothing is ever O(events²) or
    O(events-in-window) resident.

    Sentinels ride as user_id −1 / event_id −2 (click parity; a lone
    far-future counter group) and are filtered on READ-BACK by the
    real max hour index and id sign — never on the streaming plan (the
    q218 trap: a pre-aggregation filter would starve the watermark
    node). Per-batch state-store rows land in ``LAST_STATE_METRICS``
    so tests and the scale bench can assert peak state ≈ distinct
    keys, not events.

    Since r11 this is a thin wrapper over the REUSABLE operator pair
    streaming/windows.bucketed_side_counts +
    bounded_interval_counts (VERDICT r10 #5); q293 runs the same
    program at a different interval/bucket ratio (m = 4)."""
    return _bounded_attribution(
        spark, sf_dir, "q292",
        interval_seconds=3600, bucket_seconds=3600,
        out_cols=("hour_idx", "n_clicks", "n_attr_pairs"),
    )


def q293_stream_fine_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q292's bounded-state attribution at a DIFFERENT interval/bucket
    ratio: a 2-hour attribution interval over 30-minute buckets, so
    m = ⌈7200/1800⌉ = 4 adjacent buckets (q292 is the degenerate
    m = 1 case). Exercises the generalized coverage rule of
    streaming/windows.bounded_interval_counts: finer buckets buy a
    tighter superset of the exact interval (overshoot ≤ one bucket =
    30 min instead of 1 h) at 2× the counter rows and m+1 = 5
    batch-side joins — the knob a 100 TB deployment turns to trade
    counter-state for attribution precision. State stays O(keys ×
    buckets-in-watermark), throughput-independent, like q292."""
    return _bounded_attribution(
        spark, sf_dir, "q293",
        interval_seconds=7200, bucket_seconds=1800,
        out_cols=("bucket_idx", "n_clicks", "n_attr_pairs"),
    )


def _bounded_attribution(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    interval_seconds: int,
    bucket_seconds: int,
    out_cols: tuple,
) -> DataFrame:
    """Shared q292/q293 harness: replay events through the
    bounded-state counter aggregation (streaming half), spill per
    batch, then run the bucket-adjacency pairing arithmetic (batch
    half) on read-back. Both halves are the reusable operators in
    streaming/windows; only sentinels, spill plumbing and column
    naming live here."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    src, ckpt, out = _replay_dirs(name, sf_dir)
    ev.repartition(8).write.mode("overwrite").parquet(src)
    stats = ev.agg(
        F.max("ts").alias("m"),
        (F.max(F.unix_micros("ts")) / (bucket_seconds * 1_000_000))
        .cast("bigint")
        .alias("max_bucket"),
    ).first()
    # ONE sentinel wave (+10 d) — the final window-finalizing batch is
    # the engine's no-data batch, exactly as in q266
    _sentinel_wave(
        src,
        stats.m,
        lambda ts: spark.range(1, 2, 1, 1).select(
            F.lit(-2).cast("bigint").alias("event_id"),
            ts.alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
        ),
    )
    s2 = _drain_session(spark, src, no_data_batches=True)
    stream = (
        s2.readStream.schema("event_id bigint, ts timestamp, user_id bigint")
        .option("maxFilesPerTrigger", 8)
        .parquet(src)
    )
    side = F.when(F.col("event_id") % 2 == 0, F.lit("click")).otherwise(
        F.lit("purchase")
    )
    agg = bucketed_side_counts(
        stream, bucket_seconds, side, watermark="2 hours"
    )
    spill = _drain(
        spark, name, agg, _append_sink(name, out), ckpt, out, "append",
        "bucket_idx bigint, user_id bigint, side string, n bigint",
    )
    # max_bucket is NULL on an empty replay: the filter keeps nothing
    counts = spill.filter(
        (F.col("bucket_idx") <= F.lit(stats.max_bucket))
        & (F.col("user_id") >= 0)
    )
    b_col, left_col, pairs_col = out_cols
    return bounded_interval_counts(
        counts, interval_seconds, bucket_seconds
    ).select(
        F.col("bucket_idx").alias(b_col),
        F.col("n_left").alias(left_col),
        F.col("n_pairs").alias(pairs_col),
    )


QUERIES = {
    "q285_stream_timeout_flush": q285_stream_timeout_flush,
    "q292_stream_bounded_attribution": q292_stream_bounded_attribution,
    "q293_stream_fine_attribution": q293_stream_fine_attribution,
    "q42_stateful_totals": q42_stateful_totals,
    "q256_stream_semi_join": q256_stream_semi_join,
    "q266_stream_append_windows": q266_stream_append_windows,
    "q43_approx_distinct": q43_approx_distinct,
    "q70_stream_interval_join": q70_stream_interval_join,
    "q218_stream_outer_interval_join": q218_stream_outer_interval_join,
    "q239_stream_full_outer_interval_join": q239_stream_full_outer_interval_join,
    "q279_stream_right_outer_interval_join": q279_stream_right_outer_interval_join,
    "q76_stream_dedup": q76_stream_dedup,
    "q84_continuous_rollup": q84_continuous_rollup,
    "q90_stream_static_enrich": q90_stream_static_enrich,
    "q121_stream_session_window": q121_stream_session_window,
    "q136_stream_sliding_window": q136_stream_sliding_window,
}

# q43 is the one rows-only entry left (foreign sketch — its BOUNDS
# differential below is the check); q70's and q76's single-batch drains
# make the streaming join and the streaming dedup oracle-complete;
# q42's integer-cent state and q84's additive merge are
# batch-boundary-INdependent, so their multi-batch drains carry full
# oracles too.
ORACLE: dict[str, str] = {
    # q42: the batch twin of the state-store program. sum_value is the
    # exact cent total divided by 100.0 — one IEEE double divide on
    # each side of an exactly-represented integer, so bit-identical
    # (round(value*100) is exact per-value: 2-decimal money).
    "q42_stateful_totals": """
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS sum_value,
               MAX(ts) AS last_ts
        FROM events GROUP BY user_id
    """,
    # q285: same batch twin, integer cents — but the Spark side emits a
    # row ONLY through the EventTimeTimeout eviction branch, so the
    # hash match certifies that every user's state was flushed by the
    # watermark and removed (see q285_stream_timeout_flush docstring).
    "q285_stream_timeout_flush": """
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               MAX(ts) AS last_ts
        FROM events GROUP BY user_id
    """,
    # q292: the batch twin of the counter program. The hash match
    # certifies BOTH layers: the streamed per-(hour,user,side) counts
    # equal the batch GROUP BY (append-mode finalization, q266's
    # argument), and the bucket-adjacency pairing arithmetic matches
    # the plain-SQL formulation.
    "q292_stream_bounded_attribution": """
        WITH e AS (
            SELECT user_id,
                   CASE WHEN event_id % 2 = 0 THEN 'click'
                        ELSE 'purchase' END AS side,
                   epoch_us(ts) // 3600000000 AS b
            FROM events),
        c AS (SELECT user_id, b, COUNT(*) AS n_c FROM e
              WHERE side = 'click' GROUP BY 1, 2),
        p AS (SELECT user_id, b, COUNT(*) AS n_p FROM e
              WHERE side = 'purchase' GROUP BY 1, 2),
        j AS (
            SELECT c.b AS hour_idx, c.n_c,
                   c.n_c * (COALESCE(p1.n_p, 0) + COALESCE(p2.n_p, 0))
                       AS np
            FROM c
            LEFT JOIN p p1 ON p1.user_id = c.user_id AND p1.b = c.b
            LEFT JOIN p p2 ON p2.user_id = c.user_id AND p2.b = c.b + 1)
        SELECT hour_idx,
               CAST(SUM(n_c) AS BIGINT) AS n_clicks,
               CAST(SUM(np) AS BIGINT) AS n_attr_pairs
        FROM j GROUP BY hour_idx
    """,
    # q293: same certification at m = ceil(7200/1800) = 4 — the batch
    # twin replays the generalized bucket-adjacency rule with 5
    # purchase-offset joins over 30-minute buckets.
    "q293_stream_fine_attribution": """
        WITH e AS (
            SELECT user_id,
                   CASE WHEN event_id % 2 = 0 THEN 'click'
                        ELSE 'purchase' END AS side,
                   epoch_us(ts) // 1800000000 AS b
            FROM events),
        c AS (SELECT user_id, b, COUNT(*) AS n_c FROM e
              WHERE side = 'click' GROUP BY 1, 2),
        p AS (SELECT user_id, b, COUNT(*) AS n_p FROM e
              WHERE side = 'purchase' GROUP BY 1, 2),
        j AS (
            SELECT c.b AS bucket_idx, c.n_c,
                   c.n_c * (COALESCE(p0.n_p, 0) + COALESCE(p1.n_p, 0)
                            + COALESCE(p2.n_p, 0) + COALESCE(p3.n_p, 0)
                            + COALESCE(p4.n_p, 0)) AS np
            FROM c
            LEFT JOIN p p0 ON p0.user_id = c.user_id AND p0.b = c.b
            LEFT JOIN p p1 ON p1.user_id = c.user_id AND p1.b = c.b + 1
            LEFT JOIN p p2 ON p2.user_id = c.user_id AND p2.b = c.b + 2
            LEFT JOIN p p3 ON p3.user_id = c.user_id AND p3.b = c.b + 3
            LEFT JOIN p p4 ON p4.user_id = c.user_id AND p4.b = c.b + 4)
        SELECT bucket_idx,
               CAST(SUM(n_c) AS BIGINT) AS n_clicks,
               CAST(SUM(np) AS BIGINT) AS n_attr_pairs
        FROM j GROUP BY bucket_idx
    """,
    "q136_stream_sliding_window": """
        WITH slots AS (
            SELECT event_type, value,
                   epoch_us(ts) // 900000000 AS slot
            FROM events),
        expanded AS (
            SELECT s.event_type, s.value, s.slot - o.i AS wslot
            FROM slots s
            CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) o)
        SELECT make_timestamp(wslot * 900000000) AS window_start,
               make_timestamp(wslot * 900000000 + 3600000000)
                   AS window_end,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM expanded
        GROUP BY 1, 2, 3
    """,
    "q90_stream_static_enrich": """
        WITH prof AS (SELECT user_id,
                             SUM(CAST(value AS DECIMAL(18,2))) AS hist_sum,
                             COUNT(*) AS hist_n
                      FROM events GROUP BY user_id)
        SELECT e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN CAST(e.value AS DECIMAL(18,2)) * p.hist_n
                                  > p.hist_sum
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above_user_mean,
               ROUND(CAST(SUM(CASE WHEN CAST(e.value AS DECIMAL(18,2))
                                        * p.hist_n > p.hist_sum
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS above_ratio
        FROM events e JOIN prof p ON p.user_id = e.user_id
        GROUP BY e.event_type
    """,
    "q84_continuous_rollup": """
        SELECT date_trunc('hour', ts) AS hour_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "q76_stream_dedup": """
        SELECT event_id, ts, user_id FROM events
    """,
    "q279_stream_right_outer_interval_join": """
        WITH l AS (
            SELECT user_id, ts, event_id FROM events
            WHERE event_id % 2 = 0),
        r AS (
            SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event_id
            FROM events WHERE event_id % 2 = 1)
        SELECT COALESCE(l.user_id, r.p_user) AS user_id,
               l.event_id, l.ts,
               r.p_event_id, r.p_ts,
               epoch_us(r.p_ts) - epoch_us(l.ts) AS lag_us
        FROM l RIGHT JOIN r
          ON r.p_user = l.user_id
         AND r.p_ts >= l.ts
         AND r.p_ts <= l.ts + INTERVAL 1 HOUR
    """,
    "q239_stream_full_outer_interval_join": """
        WITH l AS (
            SELECT user_id, ts, event_id FROM events
            WHERE event_id % 2 = 0),
        r AS (
            SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event_id
            FROM events WHERE event_id % 2 = 1)
        SELECT COALESCE(l.user_id, r.p_user) AS user_id,
               l.event_id, l.ts,
               r.p_event_id, r.p_ts,
               epoch_us(r.p_ts) - epoch_us(l.ts) AS lag_us
        FROM l FULL JOIN r
          ON r.p_user = l.user_id
         AND r.p_ts >= l.ts
         AND r.p_ts <= l.ts + INTERVAL 1 HOUR
    """,
    "q218_stream_outer_interval_join": """
        WITH l AS (
            SELECT user_id, ts, event_id FROM events
            WHERE event_id % 2 = 0),
        r AS (
            SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event_id
            FROM events WHERE event_id % 2 = 1)
        SELECT l.user_id, l.event_id, l.ts,
               r.p_event_id, r.p_ts,
               epoch_us(r.p_ts) - epoch_us(l.ts) AS lag_us
        FROM l LEFT JOIN r
          ON r.p_user = l.user_id
         AND r.p_ts >= l.ts
         AND r.p_ts <= l.ts + INTERVAL 1 HOUR
    """,
    "q266_stream_append_windows": """
        SELECT epoch_us(ts) // 86400000000 AS day_idx,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events GROUP BY 1, 2
    """,
    "q256_stream_semi_join": """
        SELECT e.user_id, e.event_id, e.ts
        FROM events e
        SEMI JOIN events p
          ON e.user_id = p.user_id
         AND p.event_id % 2 = 1
         AND p.ts >= e.ts
         AND p.ts <= e.ts + INTERVAL 1 HOUR
        WHERE e.event_id % 2 = 0
    """,
    "q70_stream_interval_join": """
        SELECT e.user_id,
               e.event_id,
               e.ts,
               p.event_id AS p_event_id,
               p.ts AS p_ts,
               epoch_us(p.ts) - epoch_us(e.ts) AS lag_us
        FROM events e
        JOIN events p
          ON e.user_id = p.user_id
         AND e.event_id % 2 = 0
         AND p.event_id % 2 = 1
         AND p.ts >= e.ts
         AND p.ts <= e.ts + INTERVAL 1 HOUR
    """,
    # q121: session_window's merge rule as gaps-and-islands — a new
    # session iff the gap >= 30 min ([ts, ts+gap) intervals), end =
    # last_ts + gap. Complete-mode drain => no watermark truncation.
    "q121_stream_session_window": """
        WITH marked AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                                >= 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
            SELECT user_id, ts, value,
                   CAST(SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
            FROM marked)
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM numbered GROUP BY user_id, seq
    """,
}

# Error-bound differential for the sketch query (VERDICT r04 missing #3):
# HLL++ has no cross-engine value oracle, but its PUBLISHED accuracy
# contract is checkable — approx_count_distinct(rsd=0.02) must land
# within a few standard errors of DuckDB's exact COUNT(DISTINCT). The
# window is ±4*rsd = ±8% (4-sigma; the sf0.01/sf0.1 groups are far above
# the sketch's small-cardinality exact regime, so the bound is the real
# probabilistic one, not vacuous). Consumed by tools/full_differential.py
# which records a bound_match row instead of a bare no_oracle sentinel.
BOUNDS: dict[str, dict] = {
    "q43_approx_distinct": {
        "sql": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) * 0.92 AS DOUBLE)
                       AS lo_n_users_approx,
                   CAST(COUNT(DISTINCT user_id) * 1.08 AS DOUBLE)
                       AS hi_n_users_approx
            FROM events GROUP BY event_type
        """,
        "key": ["event_type"],
        "checks": [
            ("n_users_approx", "lo_n_users_approx", "hi_n_users_approx"),
        ],
    },
}
