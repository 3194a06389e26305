"""4-run noise-classification protocol (VERDICT r06 q49 convention, r08 #3).

Runs each named query in N_ISOLATED separate best-of-2 measurements inside
ONE warmed session (bench.py's measurement, ``measure.run_best``), printing
per-run walls so a reviewer can see whether the spread brackets the
historical value or reproducibly sits at the regressed one.

Usage: python tools/noise_runs.py q89_pagerank q87_semantic_dedup ...
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
from weatherapi_data_engineering_project_spark.plans import registry  # noqa: E402

N_ISOLATED = int(os.environ.get("SPARK_GRAFT_NOISE_RUNS", "4"))


def main(names: list[str]) -> None:
    spark = measure.session("noise-runs", [measure.SF_DIR])
    queries = registry.all_queries()
    out: dict[str, list[float]] = {}
    for name in names:
        out[name] = [
            round(measure.run_best(spark, queries[name], measure.SF_DIR, 2)[0], 3)
            for _ in range(N_ISOLATED)
        ]
        print(json.dumps({"query": name, "best_of_2_walls": out[name]}), flush=True)
    print(json.dumps({"summary": out}))
    if OUT_PATH:
        _write_artifact(out)


def _write_artifact(out: dict[str, list[float]]) -> None:
    """Committed noise-classification artifact (VERDICT r09 #3): the
    isolated spreads plus the two historical walls each mover was
    flagged against, and a mechanical verdict —

    - "noise": the flagged wall does not reproduce in isolation (the
      isolated minimum sits at/below the PRIOR round's wall × 1.15,
      the bench trend tool's own box-noise allowance), so the movement
      was sweep-order/load, not code;
    - "reproducible": the isolated spread sits at the flagged value —
      a real regression needing a plan fix or a waiver with cause.
    """
    refs = {}
    for ref_path in REF_BENCHES:
        try:
            with open(ref_path) as fh:
                refs[os.path.basename(ref_path)] = json.load(fh)["queries"]
        except OSError:
            pass
    rows = {}
    for name, walls in out.items():
        hist = {p: q.get(name) for p, q in refs.items()}
        prior = [v for v in hist.values() if v is not None]
        base = min(prior) if prior else None
        verdict = None
        if base is not None:
            verdict = "noise" if min(walls) <= base * 1.15 else "reproducible"
        rows[name] = {
            "isolated_best_of_2_walls": walls,
            "isolated_min": min(walls),
            "isolated_max": max(walls),
            "historical_walls": hist,
            "verdict": verdict,
        }
    artifact = {
        "protocol": (
            f"{N_ISOLATED} isolated best-of-2 measurements per query in one "
            "warmed quiet-box session (bench.py recipe); verdict=noise when "
            "the isolated minimum <= min(historical) * 1.15"
        ),
        "sf_dir": measure.SF_DIR,
        "queries": rows,
    }
    with open(OUT_PATH, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    print(json.dumps({"written": OUT_PATH, "n": len(rows)}))


OUT_PATH = os.environ.get("SPARK_GRAFT_NOISE_OUT", "")
REF_BENCHES = [
    p for p in os.environ.get(
        "SPARK_GRAFT_NOISE_REFS", "bench_full_r08.json,bench_full_r09.json"
    ).split(",") if p
]


if __name__ == "__main__":
    main(sys.argv[1:] or ["q89_pagerank", "q87_semantic_dedup", "q93_semantic_contamination"])
