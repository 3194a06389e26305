"""Record the expected query outputs in ``expected.json``.

    # one recording run (repeat with other seeds, in separate processes)
    python3 perfbench/make_expected.py collect --seed 1 --out a.json --oracle
    python3 perfbench/make_expected.py collect --seed 2 --out b.json
    # merge: a query whose fingerprint differed between runs is checked
    # on row count and schema only, or on schema only
    python3 perfbench/make_expected.py merge a.json b.json > perfbench/expected.json

``--oracle`` also collects each query that has a DuckDB twin in
``registry.all_oracles()`` and compares it with DuckDB over the same
parquet files (row count, column names, order-insensitive values).
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import os
import random
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import checks, run, workloads  # noqa: E402


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def comparable(cols: list[str], rows: list[tuple]) -> tuple[list[str], list]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], canon


def oracle_matches(df, sql: str, data_dir: str) -> bool:
    import duckdb

    con = duckdb.connect()
    for t in workloads._engine("schemas").TESTDATA_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    res = con.execute(sql)
    duck = comparable([d[0] for d in res.description], [tuple(r) for r in res.fetchall()])
    spark = comparable(df.columns, [tuple(r) for r in df.collect()])
    return duck == spark


def collect(seed: int, out: str, with_oracle: bool) -> None:
    work = os.path.join(HERE, ".work", f"expected-{os.getpid()}")
    run.isolate_files(work)
    session = workloads._engine("session")
    registry = workloads._engine("plans.registry")
    caching = workloads._engine("caching")
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{workloads.CORES}]", extra_conf=run.session_conf(work)
    )
    spark.sparkContext.setLogLevel("ERROR")
    data = workloads.data_dir(HERE)
    fns, oracles = registry.all_queries(), registry.all_oracles()
    names = list(workloads.REL_MIX)
    random.Random(seed).shuffle(names)
    found = {}
    try:
        for name in names:
            df = fns[name](spark, data)
            row = checks.fingerprint_frame(df).collect()[0]
            entry = {
                "rows": row["rows"],
                "fp": None if row["fp"] is None else str(row["fp"]),
                "schema": checks.schema_of(df),
            }
            caching.release_all()
            if with_oracle and name in oracles:
                entry["oracle"] = oracle_matches(fns[name](spark, data), oracles[name], data)
                caching.release_all()
            for q in spark.streams.active:
                q.stop()
            found[name] = entry
            print(name, entry.get("oracle", "-"), file=sys.stderr, flush=True)
    finally:
        run.stop_engine()
        shutil.rmtree(work, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(found, f, indent=1, sort_keys=True)


def merge(paths: list[str]) -> dict:
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    queries = {}
    for name in sorted(runs[0]):
        seen = [r[name] for r in runs]
        if any(s["schema"] != seen[0]["schema"] for s in seen):
            raise ValueError(f"{name}: schema differs between runs")
        if len({s["fp"] for s in seen}) == 1:
            level = "fingerprint"
        elif len({s["rows"] for s in seen}) == 1:
            level = "rows"
        else:
            level = "schema"
        oracle = [s["oracle"] for s in seen if "oracle" in s]
        queries[name] = {
            "check": level,
            "rows": seen[0]["rows"],
            "fp": seen[0]["fp"],
            "schema": seen[0]["schema"],
            "oracle": ("match" if all(oracle) else "MISMATCH") if oracle else "none",
        }
    return {"data": "data/sf0.001", "runs": len(runs), "queries": queries}


def main() -> None:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--seed", type=int, required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--oracle", action="store_true")
    m = sub.add_parser("merge")
    m.add_argument("paths", nargs="+")
    args = p.parse_args()
    if args.cmd == "collect":
        collect(args.seed, args.out, args.oracle)
    else:
        print(json.dumps(merge(args.paths), indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
