"""End-to-end pipeline: raw JSON zone → curated CSVs → warehouse, with
re-delivery idempotence across the whole chain (SURVEY.md §5.3)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from weatherapi_data_engineering_project_spark import fixtures as FX
from weatherapi_data_engineering_project_spark import schemas as S
from weatherapi_data_engineering_project_spark import pipeline as P
from weatherapi_data_engineering_project_spark.plans import weather_transform as WT
from weatherapi_data_engineering_project_spark.sources import rest


def _write_raw_zone(docs: list[dict], raw_dir: str) -> None:
    """Raw-zone envelope exactly as sources/rest.py::write_raw_zone lays
    it out: one (city, run_date, payload) JSON row per document."""
    os.makedirs(raw_dir, exist_ok=True)
    for i, doc in enumerate(docs):
        row = {
            "city": doc["location"]["name"],
            "run_date": doc["current"]["last_updated"][:10],
            "payload": json.dumps(doc),
        }
        with open(os.path.join(raw_dir, f"doc_{i}.json"), "w") as f:
            f.write(json.dumps(row))


def test_run_batch_end_to_end(spark, tmp_path):
    raw = str(tmp_path / "raw")
    curated = str(tmp_path / "curated")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_raw_zone(FX.raw_docs(), raw)

    audits = P.run_batch(spark, raw, curated, wh, ckpt, run_tag="r1")

    # every table landed and the audit condition (n0 == n1) holds
    for name, entries in audits.items():
        assert entries, f"{name}: no batch processed"
        for _bid, n0, n1 in entries:
            assert n0 == n1, f"{name}: staged keys lost ({n0} != {n1})"

    # warehouse contents equal the direct transform (minus null-key rows);
    # load-time derived columns (partition keys) appear in the warehouse
    # on top of the stage columns
    docs = FX.docs_df(spark)
    for name, (fn, _schema, keys, _parts, derived) in P.TABLES.items():
        expect = fn(docs, spark)
        for k in keys:
            expect = expect.filter(expect[k].isNotNull())
        got = spark.read.parquet(os.path.join(wh, name))
        expect_cols = sorted(set(expect.columns) | set((derived or {})))
        assert sorted(got.columns) == expect_cols
        assert got.count() == expect.count(), name
        gk = {tuple(r[k] for k in keys) for r in got.collect()}
        ek = {tuple(r[k] for k in keys) for r in expect.collect()}
        assert gk == ek, name

    # full re-run with the SAME run tag: overwritten curated files get
    # new names → reprocessed → upsert dedupes; warehouse unchanged
    before = {
        name: sorted(
            map(tuple, spark.read.parquet(os.path.join(wh, name)).collect())
        )
        for name in P.TABLES
    }
    P.run_batch(spark, raw, curated, wh, ckpt, run_tag="r1")
    for name in P.TABLES:
        after = sorted(
            map(tuple, spark.read.parquet(os.path.join(wh, name)).collect())
        )
        assert after == before[name], f"{name}: re-delivery changed warehouse"


def test_second_wave_updates(spark, tmp_path):
    """A second extraction day flows through: new keys inserted, dims
    unchanged in cardinality."""
    raw = str(tmp_path / "raw")
    curated = str(tmp_path / "curated")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_raw_zone(FX.raw_docs(), raw)
    P.run_batch(spark, raw, curated, wh, ckpt, run_tag="day1")

    docs2 = FX.raw_docs(day_offset=3)  # later forecast window
    _write_raw_zone(docs2, raw)
    P.run_batch(spark, raw, curated, wh, ckpt, run_tag="day2")

    day_fact = spark.read.parquet(os.path.join(wh, "forecast_day_weather"))
    docs = FX.docs_df(spark)
    base = WT.fact_forecast_day(docs, spark).filter(
        "forecast_day_weather_id IS NOT NULL"
    )
    # two windows → roughly twice the day-fact keys (exactly: union of
    # both runs' distinct keys; they don't overlap, 3 days apart)
    assert day_fact.count() == 2 * base.count()
    dim = spark.read.parquet(os.path.join(wh, "location"))
    assert dim.count() == base.select("location_id").distinct().count()


def test_run_batch_empty_raw_zone(spark, tmp_path):
    """An empty extraction day must flow through cleanly: header-only
    curated files, zero-batch loads, no warehouse corruption."""
    raw = str(tmp_path / "raw_empty")
    curated = str(tmp_path / "curated")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    # day 1: real data
    _write_raw_zone(FX.raw_docs(), raw)
    P.run_batch(spark, raw, curated, wh, ckpt, run_tag="day1")
    before = {
        name: sorted(
            map(tuple, spark.read.parquet(os.path.join(wh, name)).collect())
        )
        for name in P.TABLES
    }

    # day 2: the extraction produced nothing (all fetches failed)
    for f in os.listdir(raw):
        os.remove(os.path.join(raw, f))
    _write_raw_zone([], raw)
    # read_raw_docs on a dir with no files would fail the json read;
    # write one envelope with a null payload (the P8 skip shape)
    import json as _json

    with open(os.path.join(raw, "empty.json"), "w") as f:
        f.write(_json.dumps({"city": "Nowhere", "run_date": "2024-06-09",
                             "payload": None}))
    P.run_batch(spark, raw, curated, wh, ckpt, run_tag="day2")

    after = {
        name: sorted(
            map(tuple, spark.read.parquet(os.path.join(wh, name)).collect())
        )
        for name in P.TABLES
    }
    assert after == before  # nothing changed, nothing corrupted


def test_hour_fact_partitioned_incremental_rewrite(spark, tmp_path):
    """VERDICT r02 #4: the hour fact partitions by the day embedded in
    its key, so a later extraction's batch rewrites only its own day
    directories — the first day's partition files stay byte-identical
    (path + mtime), never the whole table."""
    import glob

    raw = str(tmp_path / "raw")
    curated = str(tmp_path / "curated")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_raw_zone(FX.raw_docs(), raw)
    P.run_batch(spark, raw, curated, wh, ckpt, run_tag="day1")

    hour_dir = os.path.join(wh, "forecast_hour_weather")
    part_dirs = sorted(glob.glob(os.path.join(hour_dir, "forecast_date=*")))
    assert part_dirs, "hour fact must be dir-partitioned by forecast_date"
    before = {
        f: os.stat(f).st_mtime_ns
        for d in part_dirs
        for f in glob.glob(os.path.join(d, "*.parquet"))
    }
    assert before

    docs2 = FX.raw_docs(day_offset=3)  # disjoint forecast window
    _write_raw_zone(docs2, raw)
    P.run_batch(spark, raw, curated, wh, ckpt, run_tag="day2")

    after_dirs = sorted(glob.glob(os.path.join(hour_dir, "forecast_date=*")))
    assert len(after_dirs) > len(part_dirs), "new day dirs must appear"
    for f, mtime in before.items():
        assert os.path.exists(f), f"{f} vanished in a disjoint-day batch"
        assert os.stat(f).st_mtime_ns == mtime, f"{f} was rewritten"

    # derived partition value == the yyyyMMdd embedded in the key
    for r in spark.read.parquet(hour_dir).collect():
        assert (
            r.forecast_date.strftime("%Y%m%d")
            == r.forecast_hour_weather_id.rsplit("_", 2)[1]
        )


def test_run_load_faithful_archive(spark, tmp_path):
    """M3 faithful mode through the orchestrator: a clean drain archives
    each table's curated files under archive_dir/{table}, preserving
    run-tag subpaths; the warehouse is complete."""
    raw = str(tmp_path / "raw")
    curated = str(tmp_path / "curated")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "hist")
    _write_raw_zone(FX.raw_docs(), raw)

    docs = rest.read_raw_docs(spark, raw, S.WEATHER_DOC_SCHEMA)
    P.transform_to_curated(docs, curated, spark, run_tag="day1")
    audits = P.run_load(spark, curated, wh, ckpt, archive_dir=archive)

    for name, entries in audits.items():
        assert entries and all(n0 == n1 for _b, n0, n1 in entries), name
        # stage drained into the archive, nothing data-bearing left
        stage_files = [
            f
            for _r, _d, files in os.walk(os.path.join(curated, name))
            for f in files
            if not f.startswith((".", "_"))
        ]
        assert stage_files == [], f"{name}: stage retained {stage_files}"
        archived = [
            f
            for _r, _d, files in os.walk(os.path.join(archive, name))
            for f in files
            if f.endswith(".csv")
        ]
        assert archived, f"{name}: nothing archived"
        got = spark.read.parquet(os.path.join(wh, name))
        assert got.count() > 0, name


def test_archive_gates_on_current_run_only(spark, tmp_path):
    """A historical (healed) error in a table's cumulative status log
    must not block archiving of a later clean drain."""
    from weatherapi_data_engineering_project_spark.schemas import (
        DIM_LOCATION_SCHEMA,
    )
    from weatherapi_data_engineering_project_spark.streaming.load import (
        TableLoad,
    )

    curated = str(tmp_path / "curated")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "hist")

    load = TableLoad("location", DIM_LOCATION_SCHEMA, keys=["location_id"])
    load.status_log.append((0, "Error: simulated historical failure"))

    cols = ["location_id", "name", "region", "country", "latitude", "longitude"]
    path = os.path.join(curated, "location", "day2", "w.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(",".join(cols) + "\n")
        f.write("DEL,New Delhi,Delhi,India,28.6,77.2\n")

    P.run_load(spark, curated, wh, ckpt, loads={"location": load},
               archive_dir=archive)
    assert os.path.exists(os.path.join(archive, "location", "day2", "w.csv"))


def test_derived_column_error_hits_m5_wrapper(spark, tmp_path):
    """A broken derived-column expression must fail INSIDE the M5
    per-batch wrapper: the batch logs an Error status, the stream
    finishes cleanly, and no corrupt target is left behind."""
    from weatherapi_data_engineering_project_spark.schemas import (
        DIM_LOCATION_SCHEMA,
    )
    from weatherapi_data_engineering_project_spark.streaming.load import (
        TableLoad, run_available_now,
    )

    curated = str(tmp_path / "curated")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    load = TableLoad(
        "location", DIM_LOCATION_SCHEMA, keys=["location_id"],
        derived={"boom": "no_such_function(location_id)"},
    )
    cols = ["location_id", "name", "region", "country", "latitude", "longitude"]
    path = os.path.join(curated, "location", "d1", "w.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(",".join(cols) + "\n")
        f.write("DEL,New Delhi,Delhi,India,28.6,77.2\n")

    entries = run_available_now(
        spark, load,
        stage_dir=os.path.join(curated, "location"),
        target_path=os.path.join(wh, "location"),
        checkpoint_dir=os.path.join(ckpt, "location"),
    )
    assert entries == []  # no successful audit rows
    assert any(s.startswith("Error") for _b, s in load.status_log)
    assert not os.path.exists(os.path.join(wh, "location"))


def _curate(spark, tmp_path) -> tuple[str, dict[str, int]]:
    """Fixture docs → raw zone → curated zone (run tag ``day1``);
    returns the curated dir and the per-table counts."""
    raw = str(tmp_path / "raw")
    curated = str(tmp_path / "curated")
    _write_raw_zone(FX.raw_docs(), raw)
    docs = rest.read_raw_docs(spark, raw, S.WEATHER_DOC_SCHEMA)
    return curated, P.transform_to_curated(docs, curated, spark, run_tag="day1")


def test_transform_counts_match_written_files(spark, tmp_path):
    """The per-table counts observed during the write equal a re-read of
    the files the write left behind."""
    curated, counts = _curate(spark, tmp_path)

    assert list(counts) == list(P.TABLES)
    for name, (_fn, schema, *_rest) in P.TABLES.items():
        path = os.path.join(curated, name, "day1")
        reread = spark.read.option("header", True).schema(schema).csv(path)
        assert counts[name] == reread.count() > 0, name


def test_repeated_tick_compiles_no_new_code(spark, tmp_path):
    """The generated-code cache holds a whole tick: a second identical
    tick (same raw zone, fresh curated zone and warehouse) finds every
    class it needs and compiles none."""
    raw = str(tmp_path / "raw")
    _write_raw_zone(FX.raw_docs(), raw)
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def tick(run: str):
        d = tmp_path / run
        return P.run_batch(spark, raw, str(d / "cur"), str(d / "wh"), str(d / "ck"))

    tick("first")
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    audits = tick("second")
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiled
    assert all(entries for entries in audits.values())


def test_transforms_run_concurrently(spark, tmp_path, monkeypatch):
    """Every table's transform is built at once: each builder waits on a
    barrier that only opens when all of them have started, so a
    one-after-another transform breaks the barrier instead of hanging."""
    barrier = threading.Barrier(len(P.TABLES), timeout=60)

    def waiting(fn):
        def build(docs, spark):
            barrier.wait()
            return fn(docs, spark)

        return build

    tables = {
        name: (waiting(fn), *rest_) for name, (fn, *rest_) in P.TABLES.items()
    }
    monkeypatch.setattr(P, "TABLES", tables)

    _curated, counts = _curate(spark, tmp_path)
    assert list(counts) == list(P.TABLES)
    assert all(n > 0 for n in counts.values())


def test_drains_run_concurrently(spark, tmp_path, monkeypatch):
    """All five drains are in flight at the same time: each stub drain
    waits on a five-party barrier, which breaks (and fails the test)
    after its timeout if the drains run one after another."""
    barrier = threading.Barrier(len(P.TABLES), timeout=60)
    seen = []

    def drain(spark, load, **kwargs):
        barrier.wait()
        seen.append(load.name)
        return [(0, 1, 1)]

    monkeypatch.setattr(P, "run_available_now", drain)
    audits = P.run_load(
        spark, str(tmp_path / "c"), str(tmp_path / "w"), str(tmp_path / "k")
    )
    assert sorted(seen) == sorted(P.TABLES)
    assert audits == {name: [(0, 1, 1)] for name in P.TABLES}


def test_run_load_audits_in_table_order(spark, tmp_path, monkeypatch):
    """Drains finish in reverse table order (each waits for the next
    table's drain to finish), yet the audits come back keyed in TABLES
    order."""
    names = list(P.TABLES)
    done = {name: threading.Event() for name in names}
    finished = []

    def drain(spark, load, **kwargs):
        i = names.index(load.name)
        if i + 1 < len(names):
            assert done[names[i + 1]].wait(timeout=20)
        finished.append(load.name)
        done[load.name].set()
        return [(i, 1, 1)]

    monkeypatch.setattr(P, "run_available_now", drain)
    audits = P.run_load(
        spark, str(tmp_path / "c"), str(tmp_path / "w"), str(tmp_path / "k")
    )
    assert finished == names[::-1]
    assert list(audits) == names
    assert [e[0][0] for e in audits.values()] == list(range(len(names)))


def test_drain_exception_reaches_caller_after_other_tables(
    spark, tmp_path, monkeypatch
):
    """A drain that raises does not cut the others short: every other
    table finishes, then the first exception in table order is raised
    (even though a later table raised it sooner)."""
    names = list(P.TABLES)
    first, second = names[1], names[3]
    finished = []

    def drain(spark, load, **kwargs):
        if load.name == first:
            time.sleep(0.3)
            raise RuntimeError(f"{first} drain failed")
        if load.name == second:
            raise ValueError(f"{second} drain failed")
        time.sleep(0.6)
        finished.append(load.name)
        return []

    monkeypatch.setattr(P, "run_available_now", drain)
    with pytest.raises(RuntimeError, match=first):
        P.run_load(
            spark, str(tmp_path / "c"), str(tmp_path / "w"), str(tmp_path / "k")
        )
    assert sorted(finished) == sorted(set(names) - {first, second})


def test_poison_batch_in_one_table_spares_the_others(
    spark, tmp_path, monkeypatch
):
    """A corrupt CSV in one table's FAILFAST stage fails only that
    table's batch (an Error status, nothing landed); the four other
    tables load concurrently with matching audits."""
    curated, _counts = _curate(spark, tmp_path)
    wh = str(tmp_path / "wh")
    poisoned = "location"
    with open(os.path.join(curated, poisoned, "day1", "poison.csv"), "w") as f:
        f.write("location_id,name,region,country,latitude,longitude\n")
        f.write("MUM,Mumbai,MH,India,NOT_A_NUMBER,72.9\n")

    drain = P.run_available_now

    def failfast(spark, load, **kwargs):
        return drain(spark, load, csv_mode="FAILFAST", **kwargs)

    monkeypatch.setattr(P, "run_available_now", failfast)
    loads = P.make_loads()
    audits = P.run_load(spark, curated, wh, str(tmp_path / "ckpt"), loads=loads)

    assert list(audits) == list(P.TABLES)
    assert audits[poisoned] == []
    assert [s[:6] for _b, s in loads[poisoned].status_log] == ["Error:"]
    assert not os.path.exists(os.path.join(wh, poisoned))
    for name in set(P.TABLES) - {poisoned}:
        assert audits[name], name
        assert all(n0 == n1 for _b, n0, n1 in audits[name]), name
        assert all(s.startswith("Success") for _b, s in loads[name].status_log)
        assert spark.read.parquet(os.path.join(wh, name)).count() > 0, name
