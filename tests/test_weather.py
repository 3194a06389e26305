"""Weather transform: differential tests + reference-semantics unit tests
+ end-to-end load with upsert idempotence (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weatherapi_data_engineering_project_spark import fixtures as FX
from weatherapi_data_engineering_project_spark.operators.upsert import (
    audit_counts,
    upsert,
)
from weatherapi_data_engineering_project_spark.plans import weather as W
from weatherapi_data_engineering_project_spark.plans import weather_transform as WT
from tests.conftest import SF_DIR, compare_query_to_oracle


@pytest.mark.parametrize("name", sorted(W.QUERIES))
def test_weather_query_matches_oracle(spark, name):
    compare_query_to_oracle(spark, name, W.QUERIES[name], W.ORACLE[name], SF_DIR)


def test_day_grain_positions(spark):
    """A1: exactly 2 day rows per doc — today (pos 0) dropped
    (DataTransformation.py:202-205)."""
    days = WT.fact_forecast_day(FX.docs_df(spark), spark)
    assert days.count() == len(FX.CITIES) * 2
    dates = {r.forecast_date.isoformat() for r in days.select("forecast_date").collect()}
    assert dates == {"2024-06-02", "2024-06-03"}


def test_hour_grain_positions_and_keys(spark):
    """A3+K3: 6 hour rows per doc, key suffix ∈ {0,10,20}, hour-fact key
    prefixes the day-fact key (FK integrity by construction)."""
    hours = WT.fact_forecast_hour(FX.docs_df(spark), spark).collect()
    assert len(hours) == len(FX.CITIES) * 6
    for r in hours:
        if r.location_id is None:
            assert r.forecast_hour_weather_id is None  # NULL-strict keys
            continue
        assert r.forecast_hour_weather_id.startswith(r.forecast_day_weather_id + "_")
        assert r.forecast_hour_weather_id.rsplit("_", 1)[1] in {"0", "10", "20"}
        assert r.forecast_datetime.hour in {0, 10, 20}


def test_unknown_city_null_id(spark):
    """K4: unknown city → NULL location_id (dict.get semantics)."""
    dim = WT.dim_location(FX.docs_df(spark), spark).collect()
    by_name = {r.name: r.location_id for r in dim}
    assert by_name["Atlantis"] is None
    assert by_name["New Delhi"] == "DEL"


def test_city_code_table_is_jvm_local(spark):
    """The K4 lookup's dimension is a local relation: its broadcast is
    built on the driver, with no Python RDD behind it. (The fixture docs
    themselves are a cached Python RDD, so look at the scan leaves of the
    physical plan, where the cached docs are one InMemoryTableScan.)"""
    dim = WT.dim_location(FX.docs_df(spark), spark)
    leaves = dim._jdf.queryExecution().sparkPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert "LocalTableScan" in names
    assert not any("ExistingRDD" in n for n in names)
    unknown = dim.filter(F.col("name") == "Atlantis").select("location_id")
    assert [r.location_id for r in unknown.collect()] == [None]


def test_humidity_bug_corrected(spark):
    """P7 deviation: humidity comes from current.humidity, not cloud
    (reference bug at DataTransformation.py:189)."""
    cur = WT.fact_current(FX.docs_df(spark), spark).collect()
    for r in cur:
        assert r.humidity != r.cloud
        assert r.cloud - r.humidity == 20  # fixture: cloud=60+i, humidity=40+i


def test_condition_k10_sunny(spark):
    """K10: code 1000 always named 'Sunny' even though the API text is
    'Clear' (condition.sql:57-66)."""
    dim = {r.condition_code: r.condition_name
           for r in WT.dim_condition(FX.docs_df(spark), spark).collect()}
    assert dim[1000] == "Sunny"
    assert dim[1101] == "CondA"  # G3: deterministic MIN over conflicting texts


def test_e2e_load_idempotent(spark, tmp_path):
    """EP3: stage → upsert → audit; re-delivering the same batch changes
    nothing (M1 idempotence, the F7 scenario)."""
    docs = FX.docs_df(spark)
    day = WT.fact_forecast_day(docs, spark).filter(
        F.col("forecast_day_weather_id").isNotNull()
    )
    target = upsert(day, day, keys=["forecast_day_weather_id"])
    assert target.count() == day.count()

    n0, n1 = audit_counts(target, day, ["forecast_day_weather_id"])
    assert n0 == n1  # the reference's gated-truncate condition holds

    # wave 2: same keys, changed attribute + one new key
    wave2 = day.withColumn("uv", F.lit(9.0)).limit(3).unionByName(
        day.limit(1).withColumn(
            "forecast_day_weather_id", F.lit("ZZZ_20240604")
        )
    )
    merged = upsert(target, wave2, keys=["forecast_day_weather_id"])
    assert merged.count() == day.count() + 1
    updated = merged.filter(F.col("uv") == 9.0).count()
    assert updated == 3
    # idempotence: re-applying wave 2 is a no-op
    again = upsert(merged, wave2, keys=["forecast_day_weather_id"])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, merged.collect()))


AUDIT_CASES = {
    # case: (stage keys, target keys, key columns, expected (n0, n1))
    "all_landed": ([("a",), ("b",)], [("a",), ("b",)], ["k"], (2, 2)),
    "stage_keys_missing": ([("a",), ("b",), ("c",)], [("a",)], ["k"], (3, 1)),
    "null_stage_key": ([("a",), (None,)], [("a",), (None,)], ["k"], (2, 1)),
    "duplicate_stage_keys": ([("a",), ("a",), ("b",)], [("a",), ("b",)], ["k"], (2, 2)),
    "target_only_keys": ([("a",)], [("a",), ("b",), ("c",), ("c",)], ["k"], (1, 1)),
    "two_column_key": (
        [("a", 1), ("a", 2), ("b", 1), (None, 1), ("a", 2)],
        [("a", 1), ("b", 2), (None, 1), ("a", None)],
        ["k", "j"],
        (4, 1),
    ),
    "empty_stage": ([], [("a",)], ["k"], (0, 0)),
}


@pytest.mark.parametrize("case", sorted(AUDIT_CASES))
def test_audit_counts_equal_two_count_formula(spark, case):
    """The one-action audit returns exactly the reference's two counts:
    distinct stage keys, and distinct target keys semi-joined to them."""
    stage_rows, target_rows, keys, expected = AUDIT_CASES[case]
    ddl = ", ".join(f"{k} {'string' if k == 'k' else 'int'}" for k in keys)
    stage = spark.createDataFrame(stage_rows, ddl)
    target = spark.createDataFrame(target_rows, ddl)

    n0 = stage.select(*keys).distinct().count()
    n1 = (
        target.join(stage.select(*keys).distinct(), on=keys, how="left_semi")
        .select(*keys)
        .distinct()
        .count()
    )
    assert (n0, n1) == expected
    assert audit_counts(target, stage, keys) == expected


def test_varchar_parity_mode_round_trips(spark, tmp_path):
    """SURVEY §1.3 byte-parity mode: as_varchar writes the five
    warehouse tables stringly-typed exactly like the reference DDLs
    (location.sql:11-18 et al. declare VARCHAR(255) everywhere), and
    values survive a parquet round-trip back into the typed schemas
    losslessly. The typed default is unchanged."""
    import os

    from weatherapi_data_engineering_project_spark import pipeline as P
    from weatherapi_data_engineering_project_spark.schemas import as_varchar

    docs = FX.docs_df(spark)
    for name, (fn, _schema, keys, _parts, _derived) in P.TABLES.items():
        typed = fn(docs, spark)
        for k in keys:
            typed = typed.filter(typed[k].isNotNull())
        sv = as_varchar(typed)
        assert all(dt == "string" for _c, dt in sv.dtypes), name
        assert sv.columns == typed.columns, name

        path = os.path.join(str(tmp_path), name)
        sv.write.parquet(path)
        back = spark.read.parquet(path)
        assert all(dt == "string" for _c, dt in back.dtypes), name

        # lossless: cast each string column back to its typed dtype and
        # compare full row sets
        retyped = back.select(
            *[
                F.col(c).cast(dict(typed.dtypes)[c]).alias(c)
                for c in typed.columns
            ]
        )
        assert sorted(map(tuple, retyped.collect())) == sorted(
            map(tuple, typed.collect())
        ), name
