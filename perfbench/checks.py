"""Output checks for the query workloads.

The timed action of a query is one aggregate over its result: the row
count and an order-insensitive fingerprint (the sum of a 64-bit hash of
each row's JSON form), so checking does not run the query twice.
``expected.json`` holds the values recorded from the engine on the
committed tables, cross-checked once against the DuckDB oracle (see
``make_expected.py``).
"""

from __future__ import annotations

import json
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def fingerprint_frame(df):
    """One-row frame (rows, fp) over ``df``. Columns are renamed by
    position first, so duplicate or odd output names cannot break the
    struct, and binary columns are hex-encoded for ``to_json``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    names = [f"c{i}" for i in range(len(df.columns))]
    renamed = df.toDF(*names)
    cols = []
    for name, fld in zip(names, renamed.schema.fields):
        col = F.col(name)
        if isinstance(fld.dataType, T.BinaryType):
            col = F.hex(col)
        cols.append(col.alias(name))
    row_hash = F.xxhash64(F.to_json(F.struct(*cols)))
    return renamed.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("fp"),
    )


def schema_of(df) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path) as f:
        return json.load(f)["queries"]


def check_result(rows: int, fp: str | None, schema: list[list[str]], expect: dict) -> list[str]:
    """Problems with one query's result; empty when it matches."""
    problems = []
    if schema != expect["schema"]:
        problems.append(f"schema {schema} != {expect['schema']}")
    level = expect["check"]
    if level in ("fingerprint", "rows") and rows != expect["rows"]:
        problems.append(f"rows {rows} != {expect['rows']}")
    if level == "fingerprint" and fp != expect["fp"]:
        problems.append(f"fingerprint {fp} != {expect['fp']}")
    return problems
