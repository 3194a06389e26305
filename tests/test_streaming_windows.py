"""Streaming windows: batch parity, watermark behavior, stateful totals
across micro-batches (SURVEY.md §5.4 model)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from weatherapi_data_engineering_project_spark.schemas import load_table
from weatherapi_data_engineering_project_spark.streaming import windows as W
from tests.conftest import SF_DIR


def _events_schema_ddl():
    return (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )


def test_windowed_counts_batch_parity(spark):
    """The window() agg in batch equals a date_trunc groupBy — one
    correctness anchor for the streaming plan shape."""
    ev = load_table(spark, SF_DIR, "events")
    win = W.windowed_counts(ev, window="1 hour", watermark=None)
    flat = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    a = {(r.window_start, r.event_type): r.n_events for r in win.collect()}
    b = {(r.window_start, r.event_type): r.n_events for r in flat.collect()}
    assert a == b
    # window_end - window_start == 1h everywhere
    bad = win.filter(
        F.unix_micros("window_end") - F.unix_micros("window_start") != 3600_000_000
    ).count()
    assert bad == 0


def test_session_counts_batch_matches_sql_formulation(spark):
    """Built-in session_window == the lag+cumsum sessionization of
    plans/analytics.py (same gap)."""
    from weatherapi_data_engineering_project_spark.plans.analytics import (
        q31_sessionize,
    )

    ev = load_table(spark, SF_DIR, "events")
    builtin = W.session_counts(ev, gap="4 hours", watermark=None)
    manual = q31_sessionize(spark, SF_DIR)
    a = sorted(
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in builtin.collect()
    )
    b = sorted(
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in manual.collect()
    )
    assert a == b


def _stream_events(spark, src_dir, checkpoint):
    """Drain the source through the stateful operator; collect emitted
    rows via foreachBatch (the memory sink cannot recover from a
    checkpoint; foreachBatch can)."""
    rows: list = []
    stream = (
        spark.readStream.schema(_events_schema_ddl()).parquet(src_dir)
    )

    def sink(batch, _bid):
        rows.extend(batch.collect())

    q = (
        W.running_user_totals(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    return rows


def test_running_totals_two_waves(spark, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches /
    restarts; second wave's totals include the first wave."""
    ev = load_table(spark, SF_DIR, "events").orderBy("event_id").limit(200).cache()
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    half1.coalesce(1).write.mode("append").parquet(src)
    w1 = {r.user_id: (r.n_events, r.sum_value)
          for r in _stream_events(spark, src, ckpt)}

    half2.coalesce(1).write.mode("append").parquet(src)
    w2 = {r.user_id: (r.n_events, r.sum_value)
          for r in _stream_events(spark, src, ckpt)}

    # wave-2 output (updated users only) must equal the BATCH totals over
    # both halves — i.e. state from wave 1 was restored, not recomputed
    expected = {
        r.user_id: (r.n, r.s)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert w1  # wave 1 emitted something
    assert w2  # wave 2 emitted something
    for uid, (n, s) in w2.items():
        en, es = expected[uid]
        assert n == en, f"user {uid}: {n} != {en}"
        assert abs(s - es) < 1e-6


def test_windowed_counts_streaming_watermark(spark, tmp_path):
    """End-to-end streaming windowed agg with watermark over a file
    source; complete results equal the batch run."""
    ev = load_table(spark, SF_DIR, "events").limit(500).cache()
    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    ev.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(_events_schema_ddl()).parquet(src)
    q = (
        W.windowed_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("win_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM win_stream").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in W.windowed_counts(ev, window="1 hour", watermark=None).collect()
    }
    # append mode emits only windows closed by the watermark; everything
    # emitted must match batch, and most windows should have closed
    assert got
    for k, v in got.items():
        assert want[k] == v


def test_q42_stateful_totals_rows_only_query(spark):
    """The registered rows-only streaming query: one row per user,
    totals equal the batch aggregation."""
    from weatherapi_data_engineering_project_spark.plans.streaming_queries import (
        q42_stateful_totals,
    )

    res = q42_stateful_totals(spark, SF_DIR)
    got = {r.user_id: (r.n_events, r.sum_value) for r in res.collect()}
    ev = load_table(spark, SF_DIR, "events")
    want = {
        r.user_id: (r.n, r.s)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, s) in got.items():
        assert n == want[uid][0]
        assert abs(s - want[uid][1]) < 1e-6
    # the integer-cent state makes the drained totals EXACTLY equal
    # the batch cent twin (the property the q42 oracle relies on)
    exact = {
        r.user_id: r.c
        for r in ev.groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
        .collect()
    }
    for uid, (_, s) in got.items():
        assert s == exact[uid] / 100.0


def test_stream_drain_is_file_count_invariant(spark, tmp_path):
    """The multi-file replay layout (VERDICT r05 #3) must not change
    any drained result: an AvailableNow drain with no
    maxFilesPerTrigger takes all files in ONE micro-batch, so the
    interval join over a 1-file and an 8-file copy of the same rows
    emits identical pairs."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .orderBy("event_id")
        .limit(500)
        .select("event_id", "ts", "user_id")
        .cache()
    )
    results = []
    for nfiles in (1, 8):
        src = str(tmp_path / f"src{nfiles}")
        ckpt = str(tmp_path / f"ckpt{nfiles}")
        ev.coalesce(nfiles).write.mode("overwrite").parquet(src)
        rows: list = []

        def sink(batch, _bid):
            rows.extend(batch.collect())

        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint"
        ).parquet(src)
        q = (
            W.stream_interval_join(
                stream.filter(F.col("event_id") % 2 == 0),
                stream.filter(F.col("event_id") % 2 == 1),
                max_lag="1 hour",
                watermark="2 hours",
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        results.append({tuple(r) for r in rows})
    assert results[0] == results[1]
    assert results[0]  # non-vacuous: some pairs actually joined


def test_streaming_exact_dedup(spark, tmp_path):
    """Re-delivered keys inside the watermark are dropped; each event_id
    survives exactly once."""
    ev = load_table(spark, SF_DIR, "events").orderBy("event_id").limit(100).cache()
    dup = ev.unionByName(ev.limit(40))  # 40 re-deliveries
    src = str(tmp_path / "dsrc")
    ckpt = str(tmp_path / "dckpt")
    dup.coalesce(1).write.mode("append").parquet(src)

    rows: list = []
    stream = spark.readStream.schema(_events_schema_ddl()).parquet(src)
    q = (
        W.streaming_exact_dedup(stream, ["event_id"], watermark="2 hours")
        .writeStream.foreachBatch(lambda b, _i: rows.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    ids = [r.event_id for r in rows]
    assert len(ids) == 100
    assert len(set(ids)) == 100


def test_stream_interval_join_batch_parity(spark):
    """Batch-mode interval join on a crafted frame: exact expected
    pairs, boundary-inclusive at both ends of [ts, ts + 1h]."""
    rows = [
        # (event_id, ts, user_id): evens are clicks, odds purchases
        (0, "2024-06-01 10:00:00", 1),
        (1, "2024-06-01 10:30:00", 1),   # in window of e0
        (3, "2024-06-01 11:00:00", 1),   # exactly +1h: inclusive
        (5, "2024-06-01 11:00:01", 1),   # 1s past: out
        (7, "2024-06-01 09:59:59", 1),   # before click: out
        (2, "2024-06-01 10:00:00", 2),
        (9, "2024-06-01 10:10:00", 3),   # other user: out
    ]
    ev = spark.createDataFrame(
        [(i, ts, u) for i, ts, u in rows],
        "event_id bigint, ts string, user_id bigint",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    got = sorted(
        (r.user_id, r.event_id, r.p_event_id, r.lag_us)
        for r in W.stream_interval_join(
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
            max_lag="1 hour",
            watermark=None,
        ).collect()
    )
    assert got == [
        (1, 0, 1, 1800_000_000),
        (1, 0, 3, 3600_000_000),
    ]


def test_stream_interval_join_matches_across_batches(spark, tmp_path):
    """Two-file drain: a purchase arriving in batch 2 still matches a
    click buffered in batch 1's state store (both inside the
    watermark), proving cross-batch join state actually works."""
    src = str(tmp_path / "ijsrc")
    ckpt = str(tmp_path / "ijckpt")
    ddl = "event_id bigint, ts string, user_id bigint"
    wave1 = spark.createDataFrame(
        [(0, "2024-06-01 10:00:00", 1)], ddl
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    wave2 = spark.createDataFrame(
        [(1, "2024-06-01 10:20:00", 1)], ddl
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    wave1.coalesce(1).write.mode("append").parquet(src)
    wave2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    joined = W.stream_interval_join(
        stream.filter(F.col("event_id") % 2 == 0),
        stream.filter(F.col("event_id") % 2 == 1),
        max_lag="1 hour",
        watermark="2 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = [
        (r.user_id, r.event_id, r.p_event_id, r.lag_us)
        for r in spark.sql("SELECT * FROM ij_stream").collect()
    ]
    assert got == [(1, 0, 1, 1200_000_000)]


def test_streaming_queries_leave_session_conf_untouched(spark):
    """q42/q70 pin their state-shuffle width on a CLONED session
    (VERDICT r02 #9): the caller's conf must never change — bench and
    the driver run queries back-to-back (potentially concurrently) on
    ONE session, and a try/finally restore on the shared conf would
    still race a concurrent reader. Re-invocation must also reuse the
    work dir cleanly (bench re-entrancy)."""
    from tests.conftest import SF_DIR
    from weatherapi_data_engineering_project_spark.plans import (
        streaming_queries as SQ,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    r42 = SQ.q42_stateful_totals(spark, SF_DIR)
    n42 = r42.count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert n42 > 0
    r70 = SQ.q70_stream_interval_join(spark, SF_DIR)
    n70 = r70.count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # re-entrancy: second invocations drain the same data cleanly
    assert SQ.q42_stateful_totals(spark, SF_DIR).count() == n42
    assert SQ.q70_stream_interval_join(spark, SF_DIR).count() == n70


def test_streaming_queries_match_their_oracles(spark):
    """q70/q76 (single-batch drains are oracle-COMPLETE): the streaming
    engine's result must hash-match the batch SQL twin."""
    from tests.conftest import SF_DIR, compare_query_to_oracle
    from weatherapi_data_engineering_project_spark.plans import (
        streaming_queries as SQ,
    )

    for name in sorted(SQ.ORACLE):
        compare_query_to_oracle(
            spark, name, SQ.QUERIES[name], SQ.ORACLE[name], SF_DIR
        )


def test_cloned_session_copies_runtime_confs(spark):
    """ADVICE r03: newSession() drops runtime confs; the clone helper
    must copy the semantics-bearing ones (timezone, nanosAsLong) and
    pin the state-shuffle width WITHOUT touching the caller."""
    from weatherapi_data_engineering_project_spark.session import (
        cloned_session,
    )

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        s2 = cloned_session(spark, shuffle_partitions=5)
        assert s2.conf.get("spark.sql.session.timeZone") == "America/New_York"
        assert s2.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert s2.conf.get("spark.sql.shuffle.partitions") == "5"
        # caller untouched
        assert spark.conf.get("spark.sql.shuffle.partitions") == old_width
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def test_continuous_rollup_drains_multiple_batches(spark):
    """q84's whole point is INCREMENTAL maintenance: the replay must
    split into several micro-batches (4 files under
    maxFilesPerTrigger=1), each additively merged — not one big batch
    that trivially equals the group-by."""
    import hashlib
    import os
    import tempfile

    from weatherapi_data_engineering_project_spark.plans import (
        streaming_queries as SQ,
    )

    n = SQ.q84_continuous_rollup(spark, SF_DIR).count()
    assert n > 0
    tag = hashlib.md5(SF_DIR.encode()).hexdigest()[:12]
    offsets = os.path.join(
        tempfile.gettempdir(), f"q84_work_{tag}", "ckpt", "offsets"
    )
    batches = [f for f in os.listdir(offsets) if not f.startswith(".")]
    assert len(batches) >= 4, batches


def test_sliding_counts_batch_parity_and_coverage(spark):
    """The streaming sliding-window drain equals the batch run of the
    same operator, and every event is counted in exactly 4 windows
    (1 h / 15 min)."""
    from weatherapi_data_engineering_project_spark.plans.streaming_queries import (
        q136_stream_sliding_window,
    )

    ev = load_table(spark, SF_DIR, "events")
    batch = {
        (r.window_start, r.window_end, r.event_type): (
            r.n_events,
            r.sum_value,
        )
        for r in W.sliding_counts(
            ev.select("event_id", "ts", "event_type", "value"),
            watermark=None,
        ).collect()
    }
    streamed = {
        (r.window_start, r.window_end, r.event_type): (
            r.n_events,
            r.sum_value,
        )
        for r in q136_stream_sliding_window(spark, SF_DIR).collect()
    }
    assert streamed == batch
    n_events = ev.count()
    assert sum(v[0] for v in batch.values()) == 4 * n_events
    for (ws, we, _t), _v in batch.items():
        assert (we - ws).total_seconds() == 3600
        assert ws.minute % 15 == 0 and ws.second == 0


def test_q42_drain_is_batch_boundary_invariant(spark, tmp_path):
    """VERDICT r06 #4: the q42 oracle rests on the claim that the
    integer-cent state makes the drained totals independent of batch
    boundaries. Prove it mechanically: drain the SAME 200 events split
    into 1/2/4/8 replay files under maxFilesPerTrigger=1 (so file
    count == micro-batch count) and assert the final per-user totals
    are identical tuples — bit-for-bit, not approximately."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .orderBy("event_id")
        .limit(200)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .cache()
    )
    finals = []
    for nfiles in (1, 2, 4, 8):
        src = str(tmp_path / f"q42src{nfiles}")
        ckpt = str(tmp_path / f"q42ckpt{nfiles}")
        ev.repartition(nfiles).write.mode("overwrite").parquet(src)
        rows: list = []

        def sink(batch, bid):
            rows.extend((bid, r) for r in batch.collect())

        stream = (
            spark.readStream.schema(_events_schema_ddl())
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            W.running_user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        # last update per user wins (rows arrive in batch order)
        last: dict = {}
        for _bid, r in sorted(rows, key=lambda t: t[0]):
            last[r.user_id] = (r.n_events, r.sum_value, r.last_ts)
        finals.append(last)
        # the drain really ran nfiles micro-batches
        n_batches = len({bid for bid, _ in rows})
        assert n_batches == nfiles, (nfiles, n_batches)
    for other in finals[1:]:
        assert other == finals[0]
    assert finals[0]  # non-vacuous


class _FakeGroupState:
    """Minimal stand-in for GroupState: enough for the pure state-fold
    function to run outside a stream."""

    def __init__(self, value=None):
        self._value = value
        self.exists = value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value
        self.exists = True


def test_running_totals_rejects_non_cent_values():
    """ADVICE r06: the three-way rounding agreement (pandas half-even /
    Spark HALF_UP / DuckDB half-away) holds only when value*100 is
    integral — the operator must reject 3-decimal input loudly instead
    of silently diverging from its oracle."""
    import pandas as pd
    import pytest

    ok = pd.DataFrame(
        {"value": [1.25, -3.10, 0.0], "ts": pd.to_datetime(["2024-01-01"] * 3)}
    )
    state = _FakeGroupState()
    (out,) = W._update_running_totals((7,), iter([ok]), state)
    assert out["n_events"][0] == 3
    assert out["sum_value"][0] == (125 - 310 + 0) / 100.0

    bad = pd.DataFrame(
        {"value": [1.251], "ts": pd.to_datetime(["2024-01-01"])}
    )
    with pytest.raises(ValueError, match="2-decimal"):
        list(W._update_running_totals((7,), iter([bad]), _FakeGroupState()))


def test_q218_outer_join_emits_watermark_evicted_nulls(spark):
    """The LEFT OUTER drain must (a) contain genuine null-right rows —
    they exist ONLY because watermark eviction aged out unmatched
    clicks, (b) leak no sentinel ids, and (c) equal the batch left
    join exactly, null rows included."""
    from pyspark.sql import functions as F

    from weatherapi_data_engineering_project_spark.plans.streaming_queries import (
        q218_stream_outer_interval_join,
    )

    res = q218_stream_outer_interval_join(spark, SF_DIR).cache()
    n_null = res.filter(F.col("p_event_id").isNull()).count()
    assert n_null > 0, "no outer rows — watermark eviction never fired"
    assert res.filter(
        (F.col("event_id") < 0) | (F.col("p_event_id") < 0)
    ).count() == 0
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id"
    )
    l = ev.filter(F.col("event_id") % 2 == 0)
    r = ev.filter(F.col("event_id") % 2 == 1).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event_id"),
    )
    batch = l.join(
        r,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    ).select(
        "user_id",
        "event_id",
        "ts",
        "p_event_id",
        "p_ts",
        (F.unix_micros("p_ts") - F.unix_micros("ts")).alias("lag_us"),
    )
    got = sorted(tuple(x) for x in res.collect())
    want = sorted(tuple(x) for x in batch.collect())
    assert got == want
    res.unpersist()


def test_q218_drain_one_wave_plus_nodata_flush(spark):
    """The r13 sentinel-flush protocol's mechanics: the q218 drain runs
    exactly 2 DATA micro-batches (real files, then the ONE +10d
    sentinel wave) followed by the engine's no-data flush batch —
    which IS guaranteed here because _drain_session pins
    ``noDataMicroBatches.enabled=true`` on the clone and the wave
    advances the watermark. A regression that either merged the wave
    into the real batch (watermark never jumps ⇒ outer rows lost) or
    dropped the no-data batch (flush never runs) changes this offset
    signature. Inspects the checkpoint offset log of the work dir the
    registered query just used."""
    import hashlib
    import json as _json
    import tempfile

    from weatherapi_data_engineering_project_spark.plans.streaming_queries import (
        q218_stream_outer_interval_join,
    )

    q218_stream_outer_interval_join(spark, SF_DIR).count()
    tag = hashlib.md5(SF_DIR.encode()).hexdigest()[:12]
    offsets = os.path.join(
        tempfile.gettempdir(), f"q218_work_{tag}", "ckpt", "offsets"
    )
    batches = sorted(
        int(b) for b in os.listdir(offsets) if not b.startswith(".")
    )
    assert len(batches) >= 3, batches
    idx = []
    for b in batches[:3]:
        lines = open(os.path.join(offsets, str(b))).read().splitlines()
        idx.append(_json.loads(lines[-1])["logOffset"])
    # batches 0 and 1 each consumed a strictly growing file index
    # (real replay, then the sentinel wave in its OWN batch), and
    # batch 2 consumed nothing new — the no-data flush batch running
    # under the wave's advanced watermark
    assert idx[0] < idx[1], idx
    assert idx[2] == idx[1], idx


def test_timed_out_drain_stops_and_raises():
    """AvailableNow promises to process everything available, then
    stop: a drain still running after DRAIN_TIMEOUT_S is stopped and
    raises, instead of returning whatever was spilled so far."""
    from weatherapi_data_engineering_project_spark.plans import (
        streaming_queries as SQ,
    )

    class HungQuery:
        stopped = False
        waited = None

        def awaitTermination(self, timeout):
            self.waited = timeout
            return False

        def stop(self):
            self.stopped = True

    query = HungQuery()

    class Stream:
        """A streaming frame and its writer in one stub."""

        writeStream = property(lambda self: self)

        def foreachBatch(self, sink):
            return self

        def outputMode(self, mode):
            return self

        def option(self, key, value):
            return self

        def trigger(self, **kwargs):
            return self

        def start(self):
            return query

    with pytest.raises(TimeoutError, match=f"q999.*{SQ.DRAIN_TIMEOUT_S}s"):
        SQ._drain(None, "q999", Stream(), None, "ckpt", "out", "append", "x int")
    assert query.stopped
    assert query.waited == SQ.DRAIN_TIMEOUT_S


@pytest.mark.parametrize(
    "name",
    [
        "q218_stream_outer_interval_join",
        "q266_stream_append_windows",
        "q285_stream_timeout_flush",
        "q292_stream_bounded_attribution",
    ],
)
def test_sentinel_drains_on_empty_events(spark, tmp_path, name):
    """An empty events table drains to an empty result of the usual
    schema: no sentinel wave is written (NULL max ts + INTERVAL would
    type its ts as an interval the stream cannot read), and the
    read-back bound that is NULL then keeps nothing."""
    import pyarrow.parquet as pq

    from weatherapi_data_engineering_project_spark.plans import (
        streaming_queries as SQ,
    )

    events = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    pq.write_table(events.slice(0, 0), str(tmp_path / "events.parquet"))
    qfn = SQ.QUERIES[name]
    empty = qfn(spark, str(tmp_path))
    assert empty.count() == 0
    assert empty.schema == qfn(spark, SF_DIR).schema
