"""Tests for the benchmark's own code. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, procstats, report, stats, weatherdocs, workloads  # noqa: E402
from perfbench.run import run_op  # noqa: E402
from perfbench.tracer import NullTracer, Span, Tracer, outermost, self_times  # noqa: E402

# ---------------------------------------------------------------------------
# tail percentile
# ---------------------------------------------------------------------------


def test_tail_reports_the_sample_with_ten_beyond_it():
    samples = [float(i) for i in range(1, 41)]  # 1..40, shuffled below
    samples.reverse()
    t = stats.tail(samples)
    assert t.value == 30.0  # ten samples (31..40) lie beyond it
    assert t.beyond == 10
    assert t.n == 40
    assert t.percentile == 75.0


def test_tail_with_100_samples_is_p90():
    t = stats.tail([float(i) for i in range(100)])
    assert (t.value, t.percentile) == (89.0, 90.0)


def test_tail_with_too_few_samples_is_the_maximum_and_says_so():
    t = stats.tail([3.0, 1.0, 2.0])
    assert (t.value, t.percentile, t.beyond, t.n) == (3.0, 100.0, 0, 3)
    t = stats.tail([float(i) for i in range(20)])  # p50 would be no tail
    assert (t.value, t.beyond) == (19.0, 0)
    t = stats.tail([float(i) for i in range(25)])
    assert (t.value, t.percentile, t.beyond) == (14.0, 60.0, 10)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])


def test_unstolen_takes_the_stolen_share_off_each_wall():
    assert stats.unstolen([10.0, 4.0], [0.25, 0.0]) == [7.5, 4.0]
    with pytest.raises(ValueError):
        stats.unstolen([1.0], [])


def test_steal_share_is_stolen_over_wanted_cpu_time():
    assert procstats.steal_share((100, 10), (160, 30)) == pytest.approx(0.25)
    assert procstats.steal_share((5, 5), (5, 5)) == 0.0  # an idle machine


# ---------------------------------------------------------------------------
# fail_ratio counting
# ---------------------------------------------------------------------------

EXPECT = {"check": "fingerprint", "rows": 3, "fp": "42", "schema": [["a", "int"]]}


def test_check_result_accepts_the_expected_output():
    assert checks.check_result(3, "42", [["a", "int"]], EXPECT) == []


@pytest.mark.parametrize(
    "rows, fp, schema",
    [
        (3, "43", [["a", "int"]]),  # same row count, different values
        (2, "42", [["a", "int"]]),  # a row lost
        (3, "42", [["a", "bigint"]]),  # a column type changed
    ],
)
def test_check_result_flags_a_wrong_output(rows, fp, schema):
    assert checks.check_result(rows, fp, schema, EXPECT)


def test_check_levels_ignore_what_varies_between_runs():
    rows_only = dict(EXPECT, check="rows")
    assert checks.check_result(3, "99", [["a", "int"]], rows_only) == []
    assert checks.check_result(4, "99", [["a", "int"]], rows_only)
    schema_only = dict(EXPECT, check="schema")
    assert checks.check_result(7, None, [["a", "int"]], schema_only) == []


class _Ctx:
    tracer = NullTracer()


def _query_op(name: str, rows: int, fp: str) -> workloads.Op:
    def run():
        problems = checks.check_result(rows, fp, [["a", "int"]], EXPECT)
        if problems:
            raise workloads.OpFailed("; ".join(problems))

    return workloads.Op(name, "query", run)


def test_fail_ratio_counts_a_deliberately_wrong_result():
    ops = [_query_op("good1", 3, "42"), _query_op("wrong", 3, "41"), _query_op("good2", 3, "42")]
    cleaned = []
    errors = [run_op(_Ctx(), op, lambda: cleaned.append(1))[-1] for op in ops]
    failed = sum(e is not None for e in errors)
    assert failed == 1 and "wrong" in errors[1]
    assert len(cleaned) == 3  # cleanup runs after every operation
    assert stats.fail_ratio(len(ops), failed) == pytest.approx(1 / 3)


def test_fail_ratio_counts_an_exception_and_a_failed_check():
    def boom():
        raise RuntimeError("executor lost")

    def bad_check():
        raise workloads.OpFailed("lost key")

    ops = [
        workloads.Op("raises", "tick", boom),
        workloads.Op("checked", "tick", lambda: None, bad_check),
        workloads.Op("fine", "tick", lambda: None, lambda: None),
    ]
    errors = [run_op(_Ctx(), op, lambda: None)[-1] for op in ops]
    assert [e is not None for e in errors] == [True, True, False]
    assert stats.fail_ratio(3, 2) == pytest.approx(2 / 3)


def test_fail_ratio_bounds():
    assert stats.fail_ratio(5, 0) == 0.0
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.fail_ratio(2, 3)


def _loaded_state(docs):
    expected = weatherdocs.expected_rows(docs)
    audits = {t: [(0, 5, 5)] for t in weatherdocs.TABLES}
    statuses = {t: [(0, "Success: merged 5 staged keys, 5 landed")] for t in weatherdocs.TABLES}
    return expected, audits, statuses


def test_check_load_catches_a_lost_upsert_key():
    docs = weatherdocs.day_docs(1, dt.date(2024, 6, 1))
    expected, audits, statuses = _loaded_state(docs)
    warehouse = {t: dict(v) for t, v in expected.items()}
    assert weatherdocs.check_load(audits, statuses, warehouse, expected) == []
    lost = sorted(warehouse["forecast_hour_weather"])[0]
    del warehouse["forecast_hour_weather"][lost]
    problems = weatherdocs.check_load(audits, statuses, warehouse, expected)
    assert len(problems) == 1 and lost in problems[0]


def test_check_load_catches_a_stale_forecast_value():
    day1, day2 = weatherdocs.run_dates(dt.date(2024, 6, 1), 2)
    docs1 = weatherdocs.day_docs(1, day1)
    docs = docs1 + weatherdocs.day_docs(1, day2)
    expected, audits, statuses = _loaded_state(docs)
    before = weatherdocs.expected_rows(docs1)["forecast_hour_weather"]
    after = expected["forecast_hour_weather"]
    # keys day 2 re-forecast with a value that wins the MERGE
    updated = [k for k in before if after[k] != before[k]]
    assert updated
    # an upsert that skipped keys already loaded keeps day 1's values
    warehouse = {t: dict(v) for t, v in expected.items()}
    warehouse["forecast_hour_weather"].update({k: before[k] for k in updated})
    problems = weatherdocs.check_load(audits, statuses, warehouse, expected)
    assert len(problems) == 1
    assert f"{len(updated)} keys with wrong values" in problems[0]


def test_check_load_catches_audit_mismatch_error_status_and_stray_keys():
    docs = weatherdocs.day_docs(1, dt.date(2024, 6, 1))
    expected, audits, statuses = _loaded_state(docs)
    warehouse = {t: dict(v) for t, v in expected.items()}
    audits["location"] = [(0, 10, 9)]
    statuses["condition"] = [(0, "Error: AnalysisException: boom")]
    warehouse["current_weather"]["None_20240601"] = ()
    assert len(weatherdocs.check_load(audits, statuses, warehouse, expected)) == 3


# ---------------------------------------------------------------------------
# spans and self time
# ---------------------------------------------------------------------------


def _span(sid, name, parent, start, end, job0=0, job1=0):
    return Span(sid, name, parent, start, end, job0, job1)


def test_self_time_of_nested_spans():
    spans = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "plans.build", 0, 1.0, 4.0),
        _span(2, "schemas.load_table", 1, 1.5, 2.5),
        _span(3, "schemas.load_table", 1, 3.0, 3.5),
        _span(4, "exec.run", 0, 5.0, 9.0),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert selfs[1] == pytest.approx(3.0 - 1.0 - 0.5)
    assert selfs[2] == pytest.approx(1.0)
    assert selfs[4] == pytest.approx(4.0)
    assert sum(selfs.values()) == pytest.approx(10.0)  # self times partition the op


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "a", 0, 2.0, 6.0),
        _span(2, "b", 0, 4.0, 8.0),  # overlaps a (a callback thread)
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_outermost_skips_recursive_calls():
    spans = [
        _span(0, "operators.dedup", None, 0.0, 5.0),
        _span(1, "caching.persist", 0, 1.0, 2.0),
        _span(2, "operators.dedup", 1, 1.2, 1.8),
        _span(3, "operators.dedup", None, 6.0, 7.0),
    ]
    assert [sp.sid for sp in outermost(spans, "operators.dedup")] == [0, 3]
    table = report.layer_table(spans)
    assert table["operators.dedup"]["calls"] == 3
    assert table["operators.dedup"]["inclusive_s"] == pytest.approx(6.0)


def test_per_layer_prints_every_listed_metric_per_pass():
    spans = [
        Span(0, "op", None, 0.0, 4.0, attrs={"op": "q1", "group": "operator"}),
        Span(1, "load.table", 0, 1.0, 2.0, attrs={"table": "location"}),
        Span(2, "op", None, 5.0, 6.0, attrs={"op": "q2", "group": "drain"}),
    ]
    printed, named = report.per_layer(spans, {}, {}, 2, {"attempted": 2, "failed": 1})
    assert list(printed) == list(report.PER_LAYER_UNITS)
    assert printed["group.operators_s"] == pytest.approx(2.0)  # per pass
    assert printed["group.drains_s"] == pytest.approx(0.5)
    assert printed["load.location_s"] == pytest.approx(0.5)
    assert printed["load.condition_s"] == 0.0
    assert named["fail_ratio"] == pytest.approx(0.5)


def test_tracer_links_parents_and_job_ranges():
    jobs = iter(range(100))
    tr = Tracer(next_job_id=lambda: next(jobs))
    with tr.span("op", op="q1"):
        with tr.span("plans.build"):
            pass
        with tr.span("exec.run"):
            pass
    op, build, run = tr.spans
    assert (op.parent, build.parent, run.parent) == (None, op.sid, op.sid)
    assert op.job0 <= build.job0 <= build.job1 <= run.job0 <= run.job1 <= op.job1
    assert op.attrs == {"op": "q1"}


def test_instrument_wraps_every_reference_and_restores_them():
    home = types.ModuleType("pbtest_pkg.home")
    user = types.ModuleType("pbtest_pkg.user")

    def work(x):
        return x + 1

    home.work = work
    user.work = work  # as `from .home import work` would bind it
    sys.modules.update({"pbtest_pkg.home": home, "pbtest_pkg.user": user})
    try:
        tr = Tracer()
        tr.instrument(home, "work", "layer.work", "pbtest_pkg",
                      result_attrs=lambda r: {"result": r})
        assert user.work(1) == 2 and home.work(2) == 3
        assert [(sp.name, sp.attrs["result"]) for sp in tr.spans] == [
            ("layer.work", 2), ("layer.work", 3)]
        tr.restore()
        assert user.work is work and home.work is work
    finally:
        del sys.modules["pbtest_pkg.home"], sys.modules["pbtest_pkg.user"]


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------


def _docs(seed):
    return [
        weatherdocs.payloads(weatherdocs.day_docs(seed, d))
        for d in weatherdocs.run_dates(dt.date(2024, 6, 1), 3)
    ]


def test_same_seed_gives_identical_documents_and_query_order():
    assert _docs(7) == _docs(7)
    a, b = workloads.seeded_orders(workloads.REL_MIX, 7), workloads.seeded_orders(workloads.REL_MIX, 7)
    assert [next(a) for _ in range(3)] == [next(b) for _ in range(3)]


def test_different_seed_gives_different_documents_and_query_order():
    assert _docs(7) != _docs(8)
    a, b = workloads.seeded_orders(workloads.REL_MIX, 7), workloads.seeded_orders(workloads.REL_MIX, 8)
    first_a, first_b = next(a), next(b)
    assert first_a != first_b
    assert sorted(first_a) == sorted(first_b) == sorted(workloads.REL_MIX)


def test_documents_cover_known_and_unknown_cities_and_overlap_daily():
    day1, day2 = weatherdocs.run_dates(dt.date(2024, 6, 1), 2)
    k1 = weatherdocs.expected_rows(weatherdocs.day_docs(3, day1))
    k2 = weatherdocs.expected_rows(weatherdocs.day_docs(3, day2))
    known = {loc for _n, loc, _r, _c in weatherdocs.KNOWN_CITIES}
    assert set(k1["location"]) == known  # unknown cities never get a key
    assert len(k1["current_weather"]) == len(known)
    # day 1 forecasts June 2-3, day 2 forecasts June 3-4: one shared date
    shared = k1["forecast_day_weather"].keys() & k2["forecast_day_weather"].keys()
    assert shared == {f"{loc}_20240603" for loc in known}
    assert len(k1["forecast_hour_weather"]) == 3 * len(k1["forecast_day_weather"])


def test_canned_fetcher_serves_payloads_and_skips_unknown_names():
    payloads = weatherdocs.payloads(weatherdocs.day_docs(1, dt.date(2024, 6, 1)))
    fetch = weatherdocs.canned_fetcher(payloads)
    assert fetch("Pune") == payloads["Pune"]
    assert fetch("Nowhere City") is None
