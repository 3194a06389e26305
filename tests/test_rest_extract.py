"""REST extract (EP1): one fetch per city, no Python worker in the
daily tick, and the production HTTP fetcher's request shape."""

from __future__ import annotations

import json
import sys
import threading
import types
from collections import Counter

import pytest

from weatherapi_data_engineering_project_spark import fixtures as FX
from weatherapi_data_engineering_project_spark import pipeline
from weatherapi_data_engineering_project_spark.schemas import WEATHER_DOC_SCHEMA
from weatherapi_data_engineering_project_spark.sources import rest

PYTHON_NODES = ("MapInPandas", "MapInArrow", "EvalPython", "InPandas")

CITIES = [c[0] for c in FX.CITIES]
PAYLOADS = {c: json.dumps(FX.doc(i)) for i, c in enumerate(CITIES)}


def _counting_fetcher(failing: str | None = None):
    """A thread-safe fetcher over the fixture docs that counts its calls."""
    calls: Counter = Counter()
    lock = threading.Lock()

    def fetch(city: str) -> str | None:
        with lock:
            calls[city] += 1
        return None if city == failing else PAYLOADS[city]

    return fetch, calls


def _assert_no_python(df) -> None:
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert not [n for n in PYTHON_NODES if n in plan], plan
    assert "PythonRDD" not in qe.toRdd().toDebugString()


def test_extract_fetches_each_city_once(spark, tmp_path):
    """Every action on the extracted frame reuses the one fetch: the
    count, the raw-zone write and the read-back never fetch again."""
    fetch, calls = _counting_fetcher(failing="Kochi")
    fetched = rest.extract(spark, CITIES, "2024-06-01", fetch)
    assert fetched.count() == len(CITIES) - 1
    raw_dir = str(tmp_path / "raw")
    rest.write_raw_zone(fetched, raw_dir)
    assert rest.read_raw_docs(spark, raw_dir, WEATHER_DOC_SCHEMA).count() == len(CITIES) - 1
    assert calls == Counter({c: 1 for c in CITIES})


def test_extract_of_a_day_with_no_documents(spark, tmp_path):
    fetched = rest.extract(spark, CITIES, "2024-06-01", lambda city: None)
    assert fetched.schema == rest.FETCH_RESULT_SCHEMA
    assert fetched.count() == 0
    raw_dir = str(tmp_path / "raw")
    rest.write_raw_zone(fetched, raw_dir)
    docs = rest.read_raw_docs(spark, raw_dir, WEATHER_DOC_SCHEMA)
    assert docs.count() == 0
    assert docs.columns[:2] == ["city", "run_date"]


def test_extract_runs_no_python_worker(spark):
    _assert_no_python(rest.extract(spark, CITIES, "2024-06-01", PAYLOADS.get))


@pytest.mark.parametrize("table", list(pipeline.TABLES))
def test_transforms_over_raw_docs_run_no_python_worker(spark, tmp_path, table):
    raw_dir = str(tmp_path / "raw")
    rest.write_raw_zone(rest.extract(spark, CITIES, "2024-06-01", PAYLOADS.get), raw_dir)
    docs = rest.read_raw_docs(spark, raw_dir, WEATHER_DOC_SCHEMA)
    fn = pipeline.TABLES[table][0]
    _assert_no_python(fn(docs, spark))


class _FakeResponse:
    def __init__(self, text: str, error: Exception | None = None):
        self.text = text
        self._error = error

    def raise_for_status(self) -> None:
        if self._error is not None:
            raise self._error


def _fake_requests(monkeypatch, respond):
    """Install a ``requests`` module whose ``get`` records its call and
    answers with ``respond()``."""
    calls = []

    def get(url, **kwargs):
        calls.append((url, kwargs))
        return respond()

    monkeypatch.setitem(sys.modules, "requests", types.SimpleNamespace(get=get))
    return calls


def test_http_fetcher_request_and_body(monkeypatch):
    calls = _fake_requests(monkeypatch, lambda: _FakeResponse('{"ok":1}'))
    assert rest.http_fetcher("k3y")("Pune") == '{"ok":1}'
    assert calls == [
        (
            "https://api.weatherapi.com/v1/forecast.json",
            {"params": {"key": "k3y", "q": "Pune", "days": 3}, "timeout": 30},
        )
    ]


def test_http_fetcher_returns_none_on_http_error(monkeypatch):
    _fake_requests(monkeypatch, lambda: _FakeResponse("busy", RuntimeError("503")))
    assert rest.http_fetcher("k3y")("Pune") is None


def test_http_fetcher_returns_none_when_get_raises(monkeypatch):
    def boom():
        raise ConnectionError("unreachable")

    _fake_requests(monkeypatch, boom)
    assert rest.http_fetcher("k3y")("Pune") is None
