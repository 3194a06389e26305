"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR and print
ONE JSON line {"metric","value","unit","queries","sf"}.

Each query executes fully (noop sink — no driver collect, no disk) and
is timed wall-clock by ``tools/measure.run_best``, which also reads the
best run's jobs, stages, CPU and shuffle bytes from Spark's status
store into the full artifact. The session mirrors session.py (AQE on,
modest shuffle partitions); override cpus with SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tools"))

import measure  # noqa: E402
from weatherapi_data_engineering_project_spark.plans import registry  # noqa: E402


def main() -> None:
    # Console progress bars interleave with stdout and once pushed the
    # per-query JSON line past the driver's tail capture (BENCH_r02
    # "parsed": null) — measure.session keeps bench stdout pure JSON.
    sf_dir = measure.SF_DIR
    spark = measure.session("bench", [sf_dir])
    queries = registry.all_queries()

    # Steady-state measurement: each query executes N_RUNS times and the
    # minimum is recorded (disclosed as "runs" in the output). The box
    # runs other jobs concurrently; a single sample conflates engine time
    # with scheduler noise.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

    # SPARK_GRAFT_BENCH_ONLY=q1,q2 sweeps just those queries (smoke /
    # focused re-measure); unknown names fail fast (the
    # full_differential BAD_ONLY discipline — a typo'd list must not
    # pass as an empty sweep).
    only = [
        q
        for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q
    ]
    unknown = sorted(set(only) - set(queries))
    if unknown:
        print(f"SPARK_GRAFT_BENCH_ONLY names not in registry: {unknown}")
        sys.exit(2)
    names = [q for q in sorted(queries) if not only or q in only]

    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for name in names:
        wall, layers[name] = measure.run_best(spark, queries[name], sf_dir, n_runs)
        timings[name] = round(wall, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "runs": n_runs,
            }
        )
    )
    # Full per-query artifact (VERDICT r06 #2): the driver's BENCH_r{N}
    # tail truncates to the last ~2.4 KB, which blinds tools/
    # bench_trend.py to two-thirds of the registry. Persist the complete
    # dict to bench_full_r{N}.json so the gate compares every query,
    # with each query's best-run execution layers under "exec".
    # N = next round = max committed BENCH_r* + 1 (the driver commits
    # BENCH_r{N} after this run); override with SPARK_GRAFT_BENCH_FULL.
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL")
    if not full_path:
        rounds = [
            int(m.group(1))
            for f in os.listdir(HERE)
            if (m := re.match(r"BENCH_r(\d+)\.json$", f))
        ]
        n = (max(rounds) + 1) if rounds else 1
        full_path = os.path.join(HERE, f"bench_full_r{n:02d}.json")
    full_doc = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "runs": n_runs,
        "exec": layers,
    }
    with open(full_path, "w") as f:
        json.dump(full_doc, f, indent=1)
    # The per-query line above grows with the registry and can outrun a
    # bounded tail capture; this short FINAL line is always parseable on
    # its own (VERDICT r02 #5). Per VERDICT r12 #2: a COMPACT 2-decimal
    # per-query dict is printed immediately before it (separators strip
    # whitespace, so the maximum number of entries survives a bounded
    # tail), and the final line carries "full" — the on-disk path of
    # the complete artifact — so any consumer whose capture truncates
    # the dict can follow the pointer instead of parsing the tail.
    sys.stdout.flush()
    compact = {
        "metric": "per_query_wall_seconds",
        "queries": {k: round(v, 2) for k, v in timings.items()},
    }
    print(json.dumps(compact, separators=(",", ":")))
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "runs": n_runs,
                "n_queries": len(timings),
                "full": os.path.basename(full_path),
            }
        )
    )


if __name__ == "__main__":
    main()
