"""Dump ``.explain("formatted")`` for named registry queries to files.

The optimization-round evidence artifact (plans/r12/<query>_before.txt /
_after.txt): the judge cannot run Spark, so every plan claim in
OPTIMIZATION_r12.md points at a file this tool wrote.

Usage:
    python tools/explain_dump.py OUTDIR SUFFIX q1,q2,...  [sf_dir]

Writes OUTDIR/<query>_<SUFFIX>.txt for each named query. Unknown names
fail fast (the full_differential BAD_ONLY discipline). Streaming drains
execute work to produce a read-back frame; their returned frame's plan
is what gets captured (same convention as tools/plan_audit.py's
read-back lint). A drain also gets OUTDIR/<query>_<SUFFIX>.engine.txt
(the streaming engine's plan of its last micro-batch) and
OUTDIR/<query>_<SUFFIX>.sink.txt (the executed plan of the last frame
its foreachBatch sink wrote), both taken from
``streaming_queries.LAST_BATCH_PLANS``. Random write names
(``part-NNNNN-<uuid>``), the UUIDs of stream runs and watermark nodes
and the wall-clock batch timestamp of a stateful Python node are
masked, so the files of two runs compare with ``cmp``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# plan strings truncate long paths mid-name, so a write name is masked
# up to wherever its hex run ends; a (flat)MapGroupsWithState node
# prints its batch's wall-clock timestamp right after its timeout kind
_MASKS = (
    (re.compile(r"part-\d+-[0-9a-f][0-9a-f-]*"), "part-N-UUID"),
    (
        re.compile(
            r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
        ),
        "UUID",
    ),
    (re.compile(r"(Timeout, )\d+"), r"\1BATCH_TS_MS"),
)


def mask(plan: str) -> str:
    """Replace what differs from run to run in a plan string."""
    for pat, repl in _MASKS:
        plan = pat.sub(repl, plan)
    return plan


def dump(spark, queries: dict, name: str, sf_dir: str, outdir: str,
         suffix: str) -> list:
    """Run one registry query and write its plan files; returns the
    paths written."""
    from weatherapi_data_engineering_project_spark.plans import (
        streaming_queries,
    )

    captured = streaming_queries.LAST_BATCH_PLANS
    captured.clear()
    df = queries[name](spark, sf_dir)
    plans = {
        "": df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    }
    tag = name.split("_", 1)[0]
    for part in ("engine", "sink"):
        if f"{tag}/{part}" in captured:
            plans[f".{part}"] = captured[f"{tag}/{part}"]
    paths = []
    for ext, plan in plans.items():
        path = os.path.join(outdir, f"{name}_{suffix}{ext}.txt")
        with open(path, "w") as f:
            f.write(mask(plan))
        paths.append(path)
    return paths


def main() -> int:
    outdir, suffix, names_csv = sys.argv[1], sys.argv[2], sys.argv[3]
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    names = [n for n in names_csv.split(",") if n]

    from weatherapi_data_engineering_project_spark.session import get_spark
    from weatherapi_data_engineering_project_spark.plans import registry
    from weatherapi_data_engineering_project_spark.caching import release_all

    queries = registry.all_queries()
    unknown = sorted(set(names) - set(queries))
    if unknown:
        print(f"unknown query names: {unknown}")
        return 2

    os.makedirs(outdir, exist_ok=True)
    os.environ["SPARK_GRAFT_CAPTURE_BATCH_PLANS"] = "1"
    spark = get_spark(
        app_name="explain-dump",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        for path in dump(spark, queries, name, sf_dir, outdir, suffix):
            print(f"wrote {path} ({os.path.getsize(path)} bytes)")
        release_all()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
