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
