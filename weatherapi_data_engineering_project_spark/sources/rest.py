"""REST API source + raw-zone JSON sink (reference EP1 / S1-S2, S7).

The reference's extraction Lambda loops over 10 cities, GETs
``forecast.json?q={city}&days=3`` and writes one JSON object per city
per day to the raw S3 prefix (``DataExtraction.py:32-40``, ``:48-49``,
``:55-69``). Spark-first re-expression:

- each city is fetched once per call on a driver thread pool,
  ``min(len(cities), 8)`` wide (SURVEY S1), so the fetcher must be
  thread-safe (``http_fetcher`` is); the driver holds one call's
  payloads (~0.3 MB for 12 documents), so a far longer city list is
  extracted per chunk;
- the rows reach the JVM as one Arrow table, a ``LocalTableScan``: no
  Python worker starts, and a second action does not fetch again;
- the fetch function is injected (and the clock is a parameter, never
  ``now()`` — SURVEY.md §7 determinism rule), so tests run a canned
  fetcher and production plugs ``requests``;
- failures yield ``None`` payloads and are dropped on the driver,
  preserving the reference's skip-city-and-continue policy
  (``DataExtraction.py:38-40``);
- the raw sink is ``write.json`` partitioned by ingest date — the
  "{city}_{yyyymmdd}.json" naming becomes a (city, run_date) row in a
  date-partitioned directory, which is what makes raw-zone scans
  prunable at scale.

No secret handling here by design: the API key is config, not an
engine operator (S8 — SURVEY.md §2.A).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("run_date", T.StringType()),
        T.StructField("payload", T.StringType()),  # raw JSON body
    ]
)

_ARROW_SCHEMA = pa.schema([(name, pa.string()) for name in FETCH_RESULT_SCHEMA.names])


def http_fetcher(api_key: str, days: int = 3) -> Callable[[str], str | None]:
    """Production fetcher (requires ``requests`` at call time).

    Mirrors DataExtraction.py:32-40: GET forecast.json, JSON body on
    200, None on any failure (per-city skip policy).
    """

    def fetch(city: str) -> str | None:
        try:
            import requests

            resp = requests.get(
                "https://api.weatherapi.com/v1/forecast.json",
                params={"key": api_key, "q": city, "days": days},
                timeout=30,
            )
            resp.raise_for_status()
            return resp.text
        except Exception:
            return None  # skip this city, others proceed

    return fetch


def extract(
    spark: SparkSession,
    cities: list[str],
    run_date: str,
    fetch: Callable[[str], str | None],
) -> DataFrame:
    """Fetch every city's document for ``run_date`` once; failed fetches
    are dropped (P8 null guard). Returns (city, run_date, payload)."""
    with ThreadPoolExecutor(max(1, min(len(cities), 8))) as pool:
        payloads = list(pool.map(fetch, cities))
    rows = [
        {"city": c, "run_date": run_date, "payload": p}
        for c, p in zip(cities, payloads)
        if p is not None
    ]
    table = pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA)
    return spark.createDataFrame(table, FETCH_RESULT_SCHEMA)


def write_raw_zone(fetched: DataFrame, raw_dir: str) -> None:
    """S2: append the day's documents to the raw zone, partitioned by
    run_date (the {city}_{yyyymmdd}.json naming, made prunable)."""
    fetched.write.mode("append").partitionBy("run_date").json(raw_dir)


def read_raw_docs(spark: SparkSession, raw_dir: str, doc_schema) -> DataFrame:
    """S3: parse raw-zone payload strings into the typed nested document
    (schema-on-read with an explicit StructType — no inference pass).

    The envelope schema is declared, not inferred: inference would scan
    the whole zone once before the real read, and partition-column type
    inference would drift a ``run_date=...`` directory key to DATE while
    every writer declares STRING.
    """
    raw = spark.read.schema(FETCH_RESULT_SCHEMA).option(
        "basePath", raw_dir
    ).json(raw_dir)
    return raw.select(
        "city",
        "run_date",
        F.from_json("payload", doc_schema).alias("doc"),
    ).select("city", "run_date", "doc.*")


def archive_processed(spark: SparkSession, src_dir: str, archive_dir: str) -> int:
    """S7: move consumed raw files to the history prefix
    (DataTransformation.py:234-246). Local-fs implementation; on a
    cluster this is the file-source ``cleanSource=archive`` option."""
    import os
    import shutil

    moved = 0
    for root, _, files in os.walk(src_dir):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            rel = os.path.relpath(os.path.join(root, f), src_dir)
            dst = os.path.join(archive_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(os.path.join(root, f), dst)
            moved += 1
    return moved
