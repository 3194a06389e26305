"""Streaming load (two-wave exactly-once), REST source, multimodal plumbing."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from weatherapi_data_engineering_project_spark import fixtures as FX
from weatherapi_data_engineering_project_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
)
from weatherapi_data_engineering_project_spark.schemas import (
    DIM_LOCATION_SCHEMA,
    WEATHER_DOC_SCHEMA,
)
from weatherapi_data_engineering_project_spark.sources import rest
from weatherapi_data_engineering_project_spark.streaming.load import (
    TableLoad,
    run_available_now,
)


def _write_csv(path: str, rows: list[dict], columns: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(",".join(columns) + "\n")
        for r in rows:
            f.write(",".join("" if r[c] is None else str(r[c]) for c in columns) + "\n")


COLS = ["location_id", "name", "region", "country", "latitude", "longitude"]


def test_streaming_two_wave_upsert(spark, tmp_path):
    """F7 scenario: wave 1 inserts; wave 2 re-delivers + updates + adds.
    Checkpoint must prevent re-application of wave-1 files."""
    stage = str(tmp_path / "stage")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    load = TableLoad("dim_location", DIM_LOCATION_SCHEMA, keys=["location_id"])

    wave1 = [
        {"location_id": "DEL", "name": "New Delhi", "region": "Delhi",
         "country": "India", "latitude": 28.6, "longitude": 77.2},
        {"location_id": "MUM", "name": "Mumbai", "region": "MH",
         "country": "India", "latitude": 19.1, "longitude": 72.9},
    ]
    _write_csv(f"{stage}/w1.csv", wave1, COLS)
    audits = run_available_now(spark, load, stage, target, ckpt)
    got = {r.location_id: r for r in spark.read.parquet(target).collect()}
    assert set(got) == {"DEL", "MUM"}
    assert audits and audits[-1][1] == audits[-1][2] == 2  # n0 == n1 gate

    # wave 2: DEL re-delivered unchanged, MUM updated, KOC new
    wave2 = [
        dict(wave1[0]),
        {**wave1[1], "region": "Maharashtra"},
        {"location_id": "KOC", "name": "Kochi", "region": "Kerala",
         "country": "India", "latitude": 10.0, "longitude": 76.3},
    ]
    _write_csv(f"{stage}/w2.csv", wave2, COLS)
    run_available_now(spark, load, stage, target, ckpt)
    got = {r.location_id: r for r in spark.read.parquet(target).collect()}
    assert set(got) == {"DEL", "MUM", "KOC"}
    assert got["MUM"].region == "Maharashtra"  # UPDATE branch applied

    # wave 3: nothing new → stream is a no-op (exactly-once per file)
    before = sorted(map(tuple, got.values()))
    run_available_now(spark, load, stage, target, ckpt)
    after = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert before == after


def test_rest_extract_roundtrip(spark, tmp_path):
    """EP1: canned fetcher → raw zone → parsed nested docs → transform.
    One city fails (None payload) and is skipped, others proceed."""
    payloads = {c[0]: json.dumps(FX.doc(i)) for i, c in enumerate(FX.CITIES)}

    def fetch(city: str) -> str | None:
        if city == "Kochi":
            return None  # simulated fetch failure (DataExtraction.py:38-40)
        return payloads.get(city)

    cities = [c[0] for c in FX.CITIES]
    fetched = rest.extract(spark, cities, "2024-06-01", fetch)
    assert fetched.count() == len(cities) - 1

    raw_dir = str(tmp_path / "raw")
    rest.write_raw_zone(fetched, raw_dir)
    docs = rest.read_raw_docs(spark, raw_dir, WEATHER_DOC_SCHEMA)
    assert docs.count() == len(cities) - 1
    assert docs.filter(F.col("location.name") == "Kochi").count() == 0
    # parsed docs flow straight into the transform
    from weatherapi_data_engineering_project_spark.plans.weather_transform import (
        fact_forecast_day,
    )
    assert fact_forecast_day(docs, spark).count() == (len(cities) - 1) * 2

    # S7 archive: files move to history, source prefix drains
    moved = rest.archive_processed(spark, raw_dir, str(tmp_path / "hist"))
    assert moved > 0


def test_multimodal_feature_extraction(spark):
    """Binary column + Arrow-batched decode stub: schema and batch
    plumbing are real; the codec is a deterministic fake."""
    rows = [
        (1, "image", b"\x89PNG fake bytes", "png", 64, 64, None),
        (2, "audio", b"RIFF fake wav", "wav", None, None, 1200),
        (3, "image", None, "png", 8, 8, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_features(media, dim=4).collect()}
    assert feats[1].n_bytes == len(b"\x89PNG fake bytes")
    assert len(feats[1].feature) == 4
    assert feats[3].feature is None  # null content → null feature, no crash
    # determinism: same bytes → same features
    again = {r.media_id: r for r in extract_features(media, dim=4).collect()}
    assert feats[1].feature == again[1].feature


def test_multimodal_frame_sampling(spark):
    """Video → N frame rows (1/second), deterministic per-frame hashes;
    null content dropped; missing duration yields one frame."""
    from weatherapi_data_engineering_project_spark.functions.multimodal import (
        sample_frames,
    )

    rows = [
        (1, "video", b"fake mp4 bytes", "mp4", None, None, 3500),
        (2, "video", b"tiny clip", "mp4", None, None, None),
        (3, "video", None, "mp4", None, None, 9000),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_frames(media, every_ms=1000).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    assert len(by_media[1]) == 3  # 3500ms → frames at 0,1000,2000
    assert [f.frame_ms for f in sorted(by_media[1], key=lambda f: f.frame_idx)] == [
        0, 1000, 2000,
    ]
    assert len(by_media[2]) == 1  # no duration → single frame
    assert 3 not in by_media  # null content dropped
    hashes = {f.frame_sha256 for f in by_media[1]}
    assert len(hashes) == 3  # per-frame distinct, deterministic


def test_poison_batch_survives(spark, tmp_path):
    """M5 error wrapper: a malformed CSV fails its own batch with an
    Error status but does not halt the load — later drains succeed."""
    stage = str(tmp_path / "stage")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    quarantine = str(tmp_path / "quarantine")
    load = TableLoad("dim_location", DIM_LOCATION_SCHEMA, keys=["location_id"])

    good1 = [{"location_id": "DEL", "name": "New Delhi", "region": "Delhi",
              "country": "India", "latitude": 28.6, "longitude": 77.2}]
    _write_csv(f"{stage}/w1.csv", good1, COLS)
    run_available_now(spark, load, stage, target, ckpt,
                      csv_mode="FAILFAST", quarantine_dir=quarantine)
    assert load.status_log[-1][1].startswith("Success")

    # wave 2: latitude is not a double → FAILFAST scan error in-batch
    os.makedirs(stage, exist_ok=True)
    with open(f"{stage}/w2.csv", "w") as f:
        f.write(",".join(COLS) + "\n")
        f.write("MUM,Mumbai,MH,India,NOT_A_NUMBER,72.9\n")
    run_available_now(spark, load, stage, target, ckpt,
                      csv_mode="FAILFAST", quarantine_dir=quarantine)
    assert load.status_log[-1][1].startswith("Error")
    got = {r.location_id for r in spark.read.parquet(target).collect()}
    assert got == {"DEL"}  # poison batch left the target untouched

    # wave 3: the stream is not dead — a good file still lands
    good3 = [{"location_id": "KOC", "name": "Kochi", "region": "Kerala",
              "country": "India", "latitude": 10.0, "longitude": 76.3}]
    _write_csv(f"{stage}/w3.csv", good3, COLS)
    run_available_now(spark, load, stage, target, ckpt,
                      csv_mode="FAILFAST", quarantine_dir=quarantine)
    assert load.status_log[-1][1].startswith("Success")
    got = {r.location_id for r in spark.read.parquet(target).collect()}
    assert got == {"DEL", "KOC"}


def test_gated_stage_cleanup(spark, tmp_path):
    """M3 faithful mode: stage files archived after a drain whose audits
    match; retained when a mismatch/error is reported."""
    from weatherapi_data_engineering_project_spark.streaming.load import (
        gated_stage_cleanup,
    )

    stage = str(tmp_path / "stage")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "archive")
    load = TableLoad("dim_location", DIM_LOCATION_SCHEMA, keys=["location_id"])

    wave1 = [{"location_id": "DEL", "name": "New Delhi", "region": "Delhi",
              "country": "India", "latitude": 28.6, "longitude": 77.2}]
    _write_csv(f"{stage}/day1/w1.csv", wave1, COLS)
    entries = run_available_now(spark, load, stage, target, ckpt)
    assert gated_stage_cleanup(stage, archive, entries, load.status_log)
    assert not os.path.exists(f"{stage}/day1/w1.csv")
    assert os.path.exists(f"{archive}/day1/w1.csv")  # relative path kept

    # wave 2 with an injected audit mismatch → retained for retry
    wave2 = [{"location_id": "MUM", "name": "Mumbai", "region": "MH",
              "country": "India", "latitude": 19.1, "longitude": 72.9}]
    _write_csv(f"{stage}/day2/w2.csv", wave2, COLS)
    entries = run_available_now(spark, load, stage, target, ckpt)
    bad = [(b, n0, n1 + 1) for b, n0, n1 in entries]  # injected mismatch
    assert not gated_stage_cleanup(stage, archive, bad, load.status_log)
    assert os.path.exists(f"{stage}/day2/w2.csv")  # retained

    # same wave, true audits → archives now
    assert gated_stage_cleanup(stage, archive, entries, load.status_log)
    assert os.path.exists(f"{archive}/day2/w2.csv")


def test_timed_out_drain_keeps_its_stage(spark, tmp_path, monkeypatch):
    """A drain that outlives its timeout is stopped and logs an Error
    status, so the archive gate keeps stage files the stream may never
    have read — even when the batches that did finish all matched."""
    from weatherapi_data_engineering_project_spark.streaming import load as L

    stage = str(tmp_path / "stage")
    archive = str(tmp_path / "archive")
    load = TableLoad("dim_location", DIM_LOCATION_SCHEMA, keys=["location_id"])
    _write_csv(f"{stage}/day1/w1.csv", [], COLS)

    class HungQuery:
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    query = HungQuery()

    def start_load(spark, load, *args, **kwargs):
        # one batch finished before the drain stalled
        load.audit_log.append((0, 1, 1))
        load.status_log.append((0, "Success: merged 1 staged keys, 1 landed"))
        return query

    monkeypatch.setattr(L, "start_load", start_load)
    entries = L.run_available_now(
        spark, load, stage, str(tmp_path / "t"), str(tmp_path / "k"),
        timeout_s=7,
    )

    assert query.stopped
    assert entries == [(0, 1, 1)]
    assert load.status_log[-1] == (-1, "Error: drain timed out after 7s")
    assert not L.gated_stage_cleanup(stage, archive, entries, load.status_log)
    assert os.path.exists(f"{stage}/day1/w1.csv")


def test_processing_time_resident_load(spark, tmp_path):
    """O1 resident mode: a processingTime-triggered stream picks up two
    file waves without restarting (the reference's 4-hour cron cadence,
    location.sql:87-91, compressed to 1 s)."""
    import time

    from weatherapi_data_engineering_project_spark.streaming.load import (
        start_load,
    )

    stage = str(tmp_path / "stage")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    load = TableLoad("dim_location", DIM_LOCATION_SCHEMA, keys=["location_id"])

    wave1 = [{"location_id": "DEL", "name": "New Delhi", "region": "Delhi",
              "country": "India", "latitude": 28.6, "longitude": 77.2}]
    _write_csv(f"{stage}/w1.csv", wave1, COLS)
    q = start_load(spark, load, stage, target, ckpt,
                   available_now=False, processing_time="1 second")
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not load.audit_log:
            time.sleep(0.5)
        assert load.audit_log, "wave 1 never processed"
        assert {r.location_id for r in spark.read.parquet(target).collect()} == {"DEL"}

        wave2 = [{"location_id": "MUM", "name": "Mumbai", "region": "MH",
                  "country": "India", "latitude": 19.1, "longitude": 72.9}]
        _write_csv(f"{stage}/w2.csv", wave2, COLS)
        deadline = time.time() + 60
        while time.time() < deadline and len(load.audit_log) < 2:
            time.sleep(0.5)
        assert len(load.audit_log) >= 2, "wave 2 never processed"
        got = {r.location_id for r in spark.read.parquet(target).collect()}
        assert got == {"DEL", "MUM"}
        assert q.isActive  # resident loop still alive after both waves
    finally:
        q.stop()
