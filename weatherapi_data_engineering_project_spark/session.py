"""SparkSession construction.

One place to encode the engine's execution-model decisions so every
entry point (tests, bench, driver harness) runs with the same plan
characteristics:

- AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  dynamic broadcast) — the knob that makes one logical plan survive a
  100x scale-up without retuning.
- ``spark.sql.shuffle.partitions`` defaults low for local/bench scale
  but is overridable via env for cluster runs; AQE coalescing makes a
  too-high setting cheap, a too-low one is what actually hurts at 100 TB.
- Arrow enabled so any Pandas-UDF fallback paths are batch-vectorized,
  never row-at-a-time pickling.
- The generated-code cache holds 1000 classes, not Spark's 100: one
  daily ETL tick (five transforms and MERGE drains) compiles about 210
  (207 measured on the perfbench ``etl_daily`` tick), so at 100 every
  tick evicted its own classes and recompiled them all, and the JIT
  re-optimised each new class. At 1000 a repeated tick compiles none.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "weatherapi-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are env-overridable so the same code path serves
    local[32] testing and a real cluster (where ``master`` is supplied
    by spark-submit and must NOT be forced here).
    """
    builder = SparkSession.builder.appName(app_name)

    env_master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if env_master:
        builder = builder.master(env_master)
    elif not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")

    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # static: sized above one ETL tick's compile count (module docstring)
        "spark.sql.codegen.cache.maxEntries": "1000",
        # Nested-schema pruning: the weather transform reads deep structs; only
        # the selected paths should reach the scan (SURVEY.md §4).
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        # Stable session timezone so date_format/window results are
        # deterministic across environments (tests + oracle comparison).
        "spark.sql.session.timeZone": "UTC",
        # The testdata events table is TIMESTAMP(NANOS) parquet, which the
        # reader otherwise rejects; declared here session-wide so
        # schemas.load_table's narrowing isn't a hidden per-read mutation
        # (load_table still sets it for vanilla external sessions).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def scaled_state_width(n_bytes: int, floor: int = 8, cap: int = 4096) -> int:
    """State-shuffle width for a streaming drain, derived from the
    REPLAY SIZE instead of a pinned constant (VERDICT r12 #1): one
    state partition per ~64 MB of replay input, clamped to
    [floor, cap].

    Rationale: a stateful stream's state store inherits
    ``spark.sql.shuffle.partitions``; the right width tracks how much
    state/input each partition must hold, which scales with the data,
    not with the local core count. The floor keeps every local corpus
    (sf0.001–sf0.1 replays are ≤ 2 MB) on the historical width 8 —
    measured at sf0.1 as the best point (width 2 ran q42 2.3× slower
    serializing the per-group pandas work, width 16 was within noise
    on q42 and slower on q218) and bench-comparable across rounds —
    while a 100 TB replay derives ~1.6 M → capped 4096 partitions
    instead of committing 100 TB of join state through 8 stores. Input
    bytes is the proxy (free to compute from the just-written replay
    dir); stream-stream join state is O(bytes in the watermark
    horizon), and for key-bounded operators it is an upper bound."""
    return max(floor, min(cap, n_bytes // (64 << 20)))


def cloned_session(spark: SparkSession, shuffle_partitions: int = 8):
    """Clone-and-pin (ADVICE r03, VERDICT r06 #5): ``newSession()``
    initializes SQLConf from builder-time options only, so
    semantics-bearing confs the caller set at RUNTIME (timezone
    override, the NANOS-parquet legacy flag) would silently not
    propagate to the clone. Copy them explicitly, then pin the
    state-shuffle width on the clone — the caller's (possibly shared)
    session conf is never mutated; a try/finally restore on the shared
    conf would still race a concurrent caller reading it mid-query.

    Used by every streaming drain (plans/streaming_queries.py,
    streaming/load.py): a stateful stream's state store inherits
    ``spark.sql.shuffle.partitions``, and a vanilla session's 200 means
    200 state-store dirs per micro-batch for a 150-key keyspace.
    """
    s2 = spark.newSession()
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        try:
            val = spark.conf.get(key)
        except Exception:  # noqa: BLE001 — unset and no default
            continue
        if val is not None:
            s2.conf.set(key, val)
    s2.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return s2
