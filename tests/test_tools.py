"""Unit tests for the evidence-pipeline tools (VERDICT r06 #1/#2):
the bench-trend gate's parsing, waiver, symmetric-floor and box-drift
logic — the round's one red signal in r6 came from this tool, so its
semantics are pinned here."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import bench_trend as BT  # noqa: E402
import explain_dump as ED  # noqa: E402
import measure as M  # noqa: E402


def _write(tmp_path, name, queries):
    p = tmp_path / name
    p.write_text(json.dumps({"queries": queries}))
    return str(p)


def _gate(tmp_path, old, new, monkeypatch, waivers=None):
    old_p = _write(tmp_path, "old.json", old)
    new_p = _write(tmp_path, "new.json", new)
    monkeypatch.setattr(
        BT, "load_waivers", lambda: waivers or {}
    )
    monkeypatch.setattr(
        sys, "argv", ["bench_trend.py", old_p, new_p]
    )
    return BT.main()


def test_gate_flags_single_regression(tmp_path, monkeypatch, capsys):
    old = {f"q{i:02d}_x": 1.0 for i in range(10)}
    new = dict(old)
    new["q03_x"] = 2.0  # 2x with zero drift elsewhere
    assert _gate(tmp_path, old, new, monkeypatch) == 1
    assert "REGRESSION q03_x" in capsys.readouterr().out


def test_gate_floor_is_symmetric(tmp_path, monkeypatch):
    """A sub-floor old wall (noise band) must exceed ratio*floor, not
    ratio*old — the q54 false positive of r7."""
    old = {f"q{i:02d}_x": 1.0 for i in range(10)}
    old["q54_x"] = 0.371
    new = dict(old)
    new["q54_x"] = 0.597  # 1.61x but under 1.5 * 0.5s floor
    assert _gate(tmp_path, old, new, monkeypatch) == 0


def test_gate_normalizes_box_drift(tmp_path, monkeypatch):
    """A uniform 1.6x slowdown is the box, not the queries — median
    normalization keeps the gate green; a query moving 2.5x OVER that
    drift still trips it."""
    old = {f"q{i:02d}_x": 1.0 for i in range(11)}
    new = {k: 1.6 for k in old}
    assert _gate(tmp_path, old, new, monkeypatch) == 0
    new["q05_x"] = 4.0  # 4x raw, 2.5x after the 1.6x drift
    assert _gate(tmp_path, old, new, monkeypatch) == 1


def test_gate_honors_waiver_cap(tmp_path, monkeypatch, capsys):
    old = {f"q{i:02d}_x": 1.0 for i in range(10)}
    old["q42_x"] = 1.0
    new = dict(old)
    new["q42_x"] = 3.8
    w = {"q42_x": {"max_ratio": 5.0, "round": 6, "reason": "oracle"}}
    assert _gate(tmp_path, old, new, monkeypatch, waivers=w) == 0
    assert "WAIVED q42_x" in capsys.readouterr().out
    new["q42_x"] = 6.0  # beyond the cap → red again
    assert _gate(tmp_path, old, new, monkeypatch, waivers=w) == 1


def test_tail_parse_is_anchored_to_queries_block():
    """ADVICE r06: q-named numeric fields OUTSIDE the bench queries
    dict must not be treated as timings."""
    tail = (
        'noise {"q99_fake": 123.0} noise\n'
        '{"metric": "x", "queries": {"q01_a": 1.5, "w02_b": 0.25}, '
        '"sf": 0.1}\n'
    )
    walls = BT._pairs_near_queries_block(tail)
    assert walls == {"q01_a": 1.5, "w02_b": 0.25}


def test_load_walls_prefers_full_artifact(tmp_path):
    p = tmp_path / "bench_full.json"
    p.write_text(json.dumps({"queries": {"q01_a": 2.0}, "sf": 0.1}))
    assert BT.load_walls(str(p)) == {"q01_a": 2.0}
    d = tmp_path / "driver.json"
    d.write_text(json.dumps({"tail": '"queries": {"q01_a": 3.25}}'}))
    assert BT.load_walls(str(d)) == {"q01_a": 3.25}


def test_explain_dump_writes_a_drains_plans(spark, tmp_path, monkeypatch):
    """A drain gets its read-back, engine and sink plans, with no
    random part-file name left in them, so two runs compare with cmp."""
    import re

    from conftest import SF_DIR
    from weatherapi_data_engineering_project_spark.plans import registry

    monkeypatch.setenv("SPARK_GRAFT_CAPTURE_BATCH_PLANS", "1")
    name = "q70_stream_interval_join"
    paths = ED.dump(
        spark, registry.all_queries(), name, SF_DIR, str(tmp_path), "t"
    )
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        f"{name}_t.engine.txt",
        f"{name}_t.sink.txt",
        f"{name}_t.txt",
    ]
    for path in paths:
        text = open(path).read()
        assert text.strip(), path
        assert not re.search(r"part-\d+-[0-9a-f]{4}", text), path


# ---------------------------------------------------------------------------
# tools/measure.py: the harness bench.py and the scale tools share
# ---------------------------------------------------------------------------


def _union_replicas(base, table: str, replicas: int):
    """Reference: the k-way ``unionByName`` replication rule the 10×
    scale tool used before ``measure.replicate``, written out inline."""
    from pyspark.sql import functions as F

    copies = []
    for k in range(replicas):
        c = base
        if table == "documents":
            text = F.col("text")
            if k > 0:
                text = F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w, i: F.when(
                            i % 2 == 0, F.concat(w, F.lit(f"x{k}"))
                        ).otherwise(w),
                    ),
                    " ",
                )
            c = c.select(
                (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                F.length(text).cast("long").alias("n_chars"),
            )
        elif table == "embeddings":
            emb = F.col("embedding")
            if k > 0:
                emb = F.concat(
                    F.slice(emb, k + 1, F.size(emb) - k), F.slice(emb, 1, k)
                )
            c = c.select(
                (F.col("vec_id") + F.lit(k * 10_000_000)).alias("vec_id"),
                emb.cast("array<float>").alias("embedding"),
                "label",
            )
        else:
            key = {"events": "event_id", "orders": "o_orderkey",
                   "lineitem": "l_orderkey"}[table]
            c = c.withColumn(key, F.col(key) + F.lit(k * 100_000_000))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def test_replicate_matches_the_union_rule(spark, tmp_path):
    """At 3 replicas (no embedding sign flip yet) the crossJoin rule
    writes the same rows as the old union rule, table by table; dims
    stay 1×, replica keys stay disjoint, and each event keeps its id
    parity, so
    q218/q292 keep their click/purchase sides."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from weatherapi_data_engineering_project_spark.schemas import (
        TESTDATA_TABLES,
        load_table,
    )

    dst = str(tmp_path / "scale3x")
    M.replicate(spark, SF_DIR, dst, 3)
    keys = {"events": "event_id", "orders": "o_orderkey",
            "lineitem": "l_orderkey", "documents": "doc_id",
            "embeddings": "vec_id"}
    for t in TESTDATA_TABLES:
        base = load_table(spark, SF_DIR, t)
        got = load_table(spark, dst, t)
        want = base if t in M.DIMS else _union_replicas(base, t, 3)
        assert got.columns == want.columns, t
        assert got.count() == want.count() == base.count() * (1 if t in M.DIMS else 3), t
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, t
        if t in keys:
            # no replica key collides with another replica's
            n_keys = base.select(keys[t]).distinct().count()
            assert got.select(keys[t]).distinct().count() == 3 * n_keys, t
    events = load_table(spark, dst, "events")
    base = load_table(spark, SF_DIR, "events")
    for parity in (0, 1):
        n = base.filter(F.col("event_id") % 2 == parity).count()
        assert events.filter(F.col("event_id") % 2 == parity).count() == 3 * n
    # a second call finds the _BUILT marker and writes nothing
    mtime = os.path.getmtime(os.path.join(dst, "orders.parquet"))
    M.replicate(spark, SF_DIR, dst, 3)
    assert os.path.getmtime(os.path.join(dst, "orders.parquet")) == mtime


def test_replicas_past_the_embedding_dim_stay_distinct(spark):
    """Rotation alone repeats after dim-1 = 63 replicas; the sign flip
    keeps all 100 replicas of each vector distinct."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from weatherapi_data_engineering_project_spark.schemas import load_table

    base = load_table(spark, SF_DIR, "embeddings").limit(4)
    big = M.replica_frame(spark, base, "embeddings", 100)
    per_vec = (
        big.groupBy((F.col("vec_id") % M.DOC_ID_STRIDE).alias("v"))
        .agg(F.count("*").alias("n"), F.countDistinct("embedding").alias("d"))
        .collect()
    )
    assert len(per_vec) == 4
    assert all(r.n == 100 and r.d == 100 for r in per_vec), per_vec


def test_run_best_reads_shuffle_bytes_from_the_status_store(spark):
    from conftest import SF_DIR
    from weatherapi_data_engineering_project_spark.plans import registry

    wall, ex = M.run_best(
        spark, registry.all_queries()["q02_star_revenue"], SF_DIR, 2
    )
    assert wall > 0
    assert ex["jobs"] > 0 and ex["stages"] > 0 and ex["cpu_ns"] > 0
    assert ex["shuffle_write_bytes"] > 0 and ex["shuffle_read_bytes"] > 0
    assert ex["missing_jobs"] == 0


def test_bench_tail_ends_with_compact_dict_then_pointer(
    spark, tmp_path, monkeypatch, capsys
):
    """The driver reads bench.py's stdout tail: the last line parses on
    its own and points at the full artifact, the compact per-query dict
    comes just before it, and the artifact carries each query's layers
    under "exec"."""
    import bench
    from conftest import SF_DIR

    names = ["q01_pricing_summary", "q02_star_revenue"]
    # reuse the test session: a second get_spark would reset its confs
    monkeypatch.setattr(M, "get_spark", lambda **_: spark)
    monkeypatch.setattr(M, "SF_DIR", SF_DIR)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", ",".join(names))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    full = tmp_path / "bench_full.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FULL", str(full))
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 3
    first, compact, last = (json.loads(line) for line in lines)
    assert last["full"] == full.name and last["n_queries"] == 2
    assert compact["metric"] == "per_query_wall_seconds"
    assert sorted(compact["queries"]) == sorted(first["queries"]) == names
    doc = json.loads(full.read_text())
    assert doc["queries"] == first["queries"]
    assert sorted(doc["exec"]) == names
    assert all(doc["exec"][n]["missing_jobs"] == 0 for n in names)
