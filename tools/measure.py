"""The measurement harness shared by bench.py and the scale and noise
tools: one session warm-up, one best-of-N timer that reads its run's
execution layers from Spark's in-process status store, and one rule
for building a replicated corpus.

- ``session(app_name, sf_dirs)``: the engine session, warmed so the
  first timed query does not pay JVM cold start.
- ``run_best(spark, fn, sf_dir, runs)``: run a registry query ``runs``
  times into a noop sink (no driver collect, no disk) and return the
  lowest wall with the jobs, stages, CPU, shuffle and spill of that
  run, read with ``perfbench.tracer.read_status_store`` (the UI stays
  off).
- ``replicate(spark, src, dst, replicas)`` and ``scale_dir(replicas)``:
  an R-times copy of a testdata directory with unique keys and
  distinct replicas, in ``/tmp/spark_graft_scale{R}x``.
"""

from __future__ import annotations

import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F  # noqa: E402

from perfbench.tracer import exec_summary, read_status_store  # noqa: E402
from weatherapi_data_engineering_project_spark import fixtures as FX  # noqa: E402
from weatherapi_data_engineering_project_spark.caching import release_all  # noqa: E402
from weatherapi_data_engineering_project_spark.schemas import (  # noqa: E402
    TESTDATA_TABLES,
    load_table,
)
from weatherapi_data_engineering_project_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# A run slower than this is a heavy query (streaming drain or tuner):
# after it the session's caches are dropped and the JVM collected.
HEAVY_S = 2.0


def session(app_name: str, sf_dirs: list[str]):
    """The engine session with an untimed warm-up: JIT and codegen
    paths, every table's parquet footer in each of ``sf_dirs``, one
    shuffle plus decimal aggregate, and the weather fixture's session
    cache. No query is pre-run, so each timed query is still a first
    execution. Console progress bars are off: they interleave with the
    JSON lines the tools print."""
    spark = get_spark(
        app_name=app_name, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for sf_dir in sf_dirs:
        for t in TESTDATA_TABLES:
            load_table(spark, sf_dir, t).count()
    load_table(spark, sf_dirs[0], "lineitem").groupBy("l_returnflag").agg(
        {"l_quantity": "sum"}
    ).collect()
    FX.docs_df(spark).count()
    return spark


def _sweep_hygiene(spark, heavy: bool) -> None:
    """In-sweep contamination control: one alphabetical sweep inflated
    q29…q45 up to 11.9× because the heavy streaming and tuner queries
    q289–q296 ran just before them and left streaming state, cached
    blocks and GC and page-cache pressure behind. After every run, stop
    any StreamingQuery a drain left behind (usually a no-op). After a
    heavy run, drop all cached blocks, hint a JVM GC, and re-warm the
    one intentional session cache (the weather fixture); clearing that
    one for good would move every weather wall up by a fixture
    rebuild."""
    for q in spark.streams.active:
        q.stop()
    if heavy:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        # .cache() registers the cleared plan with the CacheManager
        # again (a bare .count() would recompute it uncached)
        FX.docs_df(spark).cache().count()


def _exec_layers(spark, job0: int, job1: int) -> dict:
    """Status-store summary of jobs ``[job0, job1)``. The store drops
    the oldest jobs past ``spark.ui.retainedJobs`` and
    ``read_status_store`` skips them without a word, so the jobs it
    did not find are counted as ``missing_jobs``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ids = set(range(job0, job1))
    jobs, stages = read_status_store(spark, ids)
    out = exec_summary(ids, jobs, stages)
    out["s"] = round(out["s"], 3)
    out["missing_jobs"] = len(ids) - len(jobs)
    return out


def run_best(spark, fn, sf_dir: str, runs: int) -> tuple[float, dict]:
    """Best of ``runs`` full executions of ``fn(spark, sf_dir)`` into a
    noop sink: the lowest wall in seconds and the execution layers of
    that run. Operator caches are released after each run, so every
    run recomputes everything."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    best, layers = None, {}
    for _ in range(runs):
        job0 = dag.nextJobId()
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - start
        if best is None or elapsed < best:
            best, layers = elapsed, _exec_layers(spark, job0, dag.nextJobId())
        release_all()
        _sweep_hygiene(spark, heavy=elapsed > HEAVY_S)
    return best, layers


# ---------------------------------------------------------------------------
# Replicated corpora
# ---------------------------------------------------------------------------

# Dimensions stay 1× (facts grow, dimensions don't); foreign keys into
# them are not offset, so star joins stay valid.
DIMS = {"region", "nation", "customer", "supplier", "part"}

# Replica key offset for events, orders and lineitem. q292 and q218
# give an event the click or purchase side by event_id PARITY, so the
# stride must stay even, or odd replicas would swap sides and change
# both scale claims.
EVENT_ID_STRIDE = 100_000_000
assert EVENT_ID_STRIDE % 2 == 0, "event parity defines q292/q218 sides"
# replica offset of doc_id and vec_id
DOC_ID_STRIDE = 10_000_000

_KEY_STRIDE = {
    "events": ("event_id", EVENT_ID_STRIDE),
    "orders": ("o_orderkey", EVENT_ID_STRIDE),
    "lineitem": ("l_orderkey", EVENT_ID_STRIDE),
}


def scale_dir(replicas: int) -> str:
    return f"/tmp/spark_graft_scale{replicas}x"


def replica_frame(spark, base, table: str, replicas: int):
    """``replicas`` copies of ``table`` in one ``crossJoin`` against a
    replica index ``k`` (a flat plan, not a k-way union), with keys
    offset by a power-of-10 stride per copy.

    Replicas must be distinct, not only uniquely keyed: copies that
    differ by a short suffix made every item a true near-duplicate of
    its base, so q149's Jaccard self-join output grew ~45× at 10× —
    an input artifact, not scaling. So, for ``k > 0``:

    - documents salt alternate words with the copy tag: cross-copy
      token Jaccard ~1/3, under the 1/2 threshold, while the unsalted
      half of the vocabulary keeps candidate buckets mixed;
    - embeddings rotate by ``r = (k-1) % (dim-1) + 1`` positions, and
      from ``k = dim`` on also flip the sign of odd coordinates
      (rotation alone gives only dim-1 distinct copies, the flip
      doubles that: 2·(dim-1)+1 = 127 distinct replicas of a 64-dim
      vector, so a corpus past 127 replicas repeats vectors). Both are
      orthogonal, so inner products within a replica, and so its
      near-duplicate structure, match the base, while cosines across
      replicas are ~random or ~0.
    """
    k = F.col("k")
    big = base.crossJoin(
        F.broadcast(spark.range(replicas).select(F.col("id").alias("k")))
    )
    if table in _KEY_STRIDE:
        key, stride = _KEY_STRIDE[table]
        big = big.withColumn(key, F.col(key) + k * F.lit(stride))
    elif table == "documents":
        text = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w, i: F.when(
                    (i % 2 == 0) & (k > 0), F.concat(w, F.lit("x"), k.cast("string"))
                ).otherwise(w),
            ),
            " ",
        )
        big = big.select(
            (F.col("doc_id") + k * F.lit(DOC_ID_STRIDE)).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )
    elif table == "embeddings":
        emb = F.col("embedding")
        dim = F.size(emb)
        r = F.when(k == 0, F.lit(0)).otherwise(((k - 1) % (dim - 1)) + 1)
        rotated = F.when(r == 0, emb).otherwise(
            F.concat(F.slice(emb, r + 1, dim - r), F.slice(emb, 1, r))
        )
        flip = (k > 0) & (((k - 1) / (dim - 1)).cast("int") >= 1)
        emb = F.when(
            flip,
            F.transform(rotated, lambda x, i: F.when(i % 2 == 1, -x).otherwise(x)),
        ).otherwise(rotated)
        big = big.select(
            (F.col("vec_id") + k * F.lit(DOC_ID_STRIDE)).alias("vec_id"),
            emb.cast("array<float>").alias("embedding"),
            "label",
        )
    return big.drop("k")


def replicate(spark, src: str, dst: str, replicas: int) -> None:
    """Write every testdata table of ``src`` to ``dst``: dimensions as
    they are, every other table ``replicas`` times (``replica_frame``).
    A ``_BUILT`` marker makes a second call a no-op, so a corpus built
    once serves later fresh measuring sessions."""
    marker = os.path.join(dst, "_BUILT")
    if os.path.exists(marker):
        return
    os.makedirs(dst, exist_ok=True)
    for t in TESTDATA_TABLES:
        out = load_table(spark, src, t)
        if t not in DIMS:
            # spread the write over the session's cores: the crossJoin
            # inherits the single-file scan's one partition
            out = replica_frame(spark, out, t, replicas).repartition(
                spark.sparkContext.defaultParallelism
            )
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok")
