"""Record the committed traced runs and the tracer's overhead.

    python3 perfbench/record_traces.py --seed 7 --seconds 20 --untraced 3

For each workload, runs ``run.py`` ``--untraced`` times with ``--trace 0``
and once with ``--trace 1``, all with the same seed, each in its own
process (the traced run in the middle), and writes
``perfbench/traces/<workload>.json``: the traced run's trace file plus
``trace_overhead``, its ``wall_s`` over the median ``wall_s`` of the
untraced runs (both less the share the hypervisor stole, as ``run.py``
reports them). Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats, workloads  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: {record['errors']}")
    return record


def wall_s(record: dict) -> float:
    """The run's ``wall_s`` metric, from its record."""
    return statistics.median(stats.unstolen(record["pass_walls_s"], record["pass_steal_share"]))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--untraced", type=int, default=3)
    p.add_argument("--workload", action="append", choices=workloads.WORKLOADS)
    args = p.parse_args()
    for w in args.workload or workloads.WORKLOADS:
        untraced = []
        for i in range(args.untraced + 1):
            if i == (args.untraced + 1) // 2:
                traced = run_once(w, args.seed, args.seconds, 1)
            else:
                untraced.append(wall_s(run_once(w, args.seed, args.seconds, 0)))
        src = os.path.join(HERE, "out", f"{w}-seed{args.seed}-trace.json")
        with open(src) as f:
            doc = json.load(f)
        traced_wall = wall_s(traced)
        doc["trace_overhead"] = {
            "traced_wall_s": traced_wall,
            "untraced_wall_s": untraced,
            "ratio": traced_wall / statistics.median(untraced),
        }
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        with open(os.path.join(HERE, "traces", f"{w}.json"), "w") as f:
            json.dump(doc, f, indent=1)
        print(w, json.dumps(doc["trace_overhead"]), flush=True)


if __name__ == "__main__":
    main()
