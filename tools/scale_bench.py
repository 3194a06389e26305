"""Empirical scaling check: 1× vs R× walls and shuffle bytes of the
costliest queries, on a corpus replicated R times from the base
directory (``measure.replicate``: facts grow, dimensions stay 1×, keys
stay unique, replicas stay distinct).

Each target query runs best-of-N at both scales in one warmed session;
the wall and the shuffle bytes of each scale's best run come from
``measure.run_best``, which reads Spark's status store. A
shuffle-bound query should land near R×·log-ish growth; anything
super-linear beyond its shuffle volume gets a plan fix or a documented
reason.

Streaming rows measure the waived drains' claims: the wall grows by the
data term only (the sentinel and trigger constant is fixed), and peak
state rows (from each drain's ``recentProgress``, via
``streaming_queries.LAST_STATE_METRICS``) track the KEY space, which
the replicas share, not the row count. One drain per scale: drain work
dirs clear on reuse, so a second run would only pay the fixed drain
constant again.

Artifact rows: ``wall_1x``, ``wall_{R}x``, ``ratio``,
``shuffle_{write,read}_bytes_{1,R}x`` and ``missing_jobs_{1,R}x`` (jobs
the status store no longer held; nonzero means the shuffle bytes are
an undercount), plus ``state_rows_peak_{1,R}x`` for drains.

Usage: python tools/scale_bench.py OUT.json
Env: SPARK_GRAFT_SF_DIR (base corpus, default /root/testdata/sf0.1),
     SPARK_GRAFT_SCALE_REPLICAS (R, default 10; the corpus lives in
       measure.scale_dir(R)),
     SPARK_GRAFT_SCALE_TARGETS / SPARK_GRAFT_SCALE_STREAM_TARGETS
       (comma-separated; override the lists for a focused row, which
       is merged into an existing OUT.json; the q292 row is
       ``SPARK_GRAFT_SCALE_TARGETS= SPARK_GRAFT_SCALE_STREAM_TARGETS=q292_stream_bounded_attribution``),
     SPARK_GRAFT_SCALE_BUILD_ONLY=1 (build the corpus and exit, so the
       measurement runs in a fresh session: building and measuring in
       one session inflates 1× walls up to 4×).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
from weatherapi_data_engineering_project_spark.plans import registry  # noqa: E402
from weatherapi_data_engineering_project_spark.plans import (  # noqa: E402
    streaming_queries as SQ,
)

REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))

# Per replica count: the batch targets, the streaming targets, and the
# best-of-N runs at 1× and at R×. Any other R uses the 10× plan.
PLANS = {
    10: {
        # the 10 slowest non-streaming queries of bench_full_r08.json
        "targets": [
            "q89_pagerank",
            "q87_semantic_dedup",
            "q77_training_prep",
            "q191_heaps_law",
            "q60_ivf_kmeans_ann",
            "q173_quality_representatives",
            "q47_dedup_clusters",
            "q72_dedup_keep_list",
            "q149_prefix_join",
            "q93_semantic_contamination",
        ],
        "stream": [
            "q285_stream_timeout_flush",
            "q266_stream_append_windows",
            "q218_stream_outer_interval_join",
            # the bounded-state rewrite of q218's use case: its peak
            # state must stay at the counter count while q218's grows
            # with the rows in its window
            "q292_stream_bounded_attribution",
        ],
        # a third run absorbs one multi-second transient of a long
        # session per (query, scale) cell
        "runs": (3, 3),
    },
    100: {
        "targets": [
            "q02_star_revenue",
            "q23_exact_dedup",
            "q47_dedup_clusters",
            # the corpus-derived LSH widths: at 200k vectors and 500k
            # docs they must keep candidate mass ~linear
            "q93_semantic_contamination",
            "q25_minhash_lsh",
        ],
        "stream": [],
        "runs": (2, 1),
    },
}


def _targets(env: str, default: list[str]) -> list[str]:
    value = os.environ.get(env)
    return default if value is None else [t for t in value.split(",") if t]


def main(out_path: str) -> None:
    plan = PLANS.get(REPLICAS, PLANS[10])
    targets = _targets("SPARK_GRAFT_SCALE_TARGETS", plan["targets"])
    stream_targets = _targets("SPARK_GRAFT_SCALE_STREAM_TARGETS", plan["stream"])
    scale_dir = measure.scale_dir(REPLICAS)

    spark = measure.session("scale-bench", [measure.SF_DIR])
    t0 = time.perf_counter()
    measure.replicate(spark, measure.SF_DIR, scale_dir, REPLICAS)
    build_s = round(time.perf_counter() - t0, 1)
    if os.environ.get("SPARK_GRAFT_SCALE_BUILD_ONLY"):
        print(json.dumps({"built": scale_dir, "build_seconds": build_s}))
        return
    measure.session("scale-bench", [scale_dir])  # warm the replicas' footers too

    queries = registry.all_queries()
    big = f"{REPLICAS}x"

    def row(name: str, runs: tuple[int, int], drain: bool = False) -> dict:
        out = {}
        for tag, sf_dir, n in (("1x", measure.SF_DIR, runs[0]), (big, scale_dir, runs[1])):
            wall, ex = measure.run_best(spark, queries[name], sf_dir, n)
            out[f"wall_{tag}"] = round(wall, 3)
            for key in ("shuffle_write_bytes", "shuffle_read_bytes", "missing_jobs"):
                out[f"{key}_{tag}"] = ex[key]
            if drain:
                peaks = SQ.LAST_STATE_METRICS.get(name.split("_")[0], [])
                out[f"state_rows_peak_{tag}"] = max((r[1] for r in peaks), default=None)
        out["ratio"] = round(out[f"wall_{big}"] / out["wall_1x"], 2)
        print(json.dumps({"query": name, **out}), flush=True)
        return out

    rows = {name: row(name, plan["runs"]) for name in targets}
    srows = {name: row(name, (1, 1), drain=True) for name in stream_targets}

    result = {
        "metric": f"scale_ratio_{big}",
        "replicas": REPLICAS,
        "base_sf_dir": measure.SF_DIR,
        "corpus_build_seconds": build_s,
        "queries": rows,
        "streaming": srows,
    }
    # a focused row merges into an existing artifact instead of
    # clobbering the earlier sweep
    focused = any(
        e in os.environ
        for e in ("SPARK_GRAFT_SCALE_TARGETS", "SPARK_GRAFT_SCALE_STREAM_TARGETS")
    )
    if focused and os.path.exists(out_path):
        with open(out_path) as fh:
            prior = json.load(fh)
        prior.setdefault("queries", {}).update(rows)
        prior.setdefault("streaming", {}).update(srows)
        result = prior
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps({"written": out_path, "n": len(rows) + len(srows)}))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
