"""The weather ETL transform (reference EP2), Spark-first.

Re-expresses ``DataTransformation.py`` as pure DataFrame→DataFrame
functions over the nested WeatherAPI document schema
(schemas.WEATHER_DOC_SCHEMA). Where the reference loops over pandas
rows and stamps keys per record (``DataTransformation.py:85-90``,
``:105-111``), everything here is a codegen'd Catalyst expression; the
explode family replaces ``pd.json_normalize``.

Documented deviations from the reference (SURVEY.md §7 risk register):
- humidity: the reference populates FACT_CURRENT humidity from
  ``current.cloud`` (``DataTransformation.py:189``) — a copy-paste bug.
  We use ``current.humidity`` (semantically correct).
- unknown city: the reference f-string-interpolates ``None`` into keys
  ("None_20240601"); we propagate NULL via null-strict ``concat``.
- condition first-wins text (``DataTransformation.py:69-73``) is
  order-dependent in pandas; we resolve deterministically with
  MIN(text) per code (any-wins is the actual business semantics).

Intentional reference semantics preserved:
- forecastday positions {1,2} only — today is dropped
  (``DataTransformation.py:202-205``).
- hour positions {0,10,20} only (``DataTransformation.py:95-98``).
- condition code 1000 is always named 'Sunny' (``condition.sql:57-66``).
- key formats "{LOC}_{yyyyMMdd}" / "..._{houridx}"
  (``DataTransformation.py:85-89``, ``:105-111``, ``:168-170``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures as FX

# City → 3-letter code (DataTransformation.py:10-21). A broadcast-joined
# dimension, not a Python dict lookup: at scale the map rides to every
# executor once instead of per-row driver round-trips.
CITY_CODES = [
    ("New Delhi", "DEL"),
    ("Bangalore", "BAN"),
    ("Chennai", "CHE"),
    ("Pune", "PUN"),
    ("Mumbai", "MUM"),
    ("Hyderabad", "HYD"),
    ("Jaipur", "JAI"),
    ("Kochi", "KOC"),
    ("Kolkata", "KOL"),
    ("Ahmedabad", "ADB"),
]


def city_code_df(spark: SparkSession) -> DataFrame:
    # An inline VALUES table is a JVM-local relation, so every transform
    # builds this broadcast on the driver with no Spark job and no Python
    # worker; a Python list through createDataFrame would be a Python RDD.
    return spark.sql(f"SELECT * FROM {FX.city_map_values()}")


def with_location_id(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """K4 dim-key lookup as a broadcast left join (null id if unknown,
    matching dict.get at DataTransformation.py:153)."""
    codes = F.broadcast(city_code_df(spark))
    return docs.join(codes, docs["location.name"] == codes["name"], "left").drop(
        "name"
    )


def dim_location(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """P6 location projection (DataTransformation.py:155-163)."""
    d = with_location_id(docs, spark)
    return d.select(
        "location_id",
        F.col("location.name").alias("name"),
        F.col("location.region").alias("region"),
        F.col("location.country").alias("country"),
        F.col("location.lat").alias("latitude"),
        F.col("location.lon").alias("longitude"),
    )


def fact_current(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """P7 current-weather projection + K1 surrogate key
    (DataTransformation.py:168-198; humidity bug corrected)."""
    d = with_location_id(docs, spark)
    last_upd = F.to_timestamp("current.last_updated", "yyyy-MM-dd HH:mm")
    key = F.concat(
        F.col("location_id"), F.lit("_"), F.date_format(last_upd, "yyyyMMdd")
    )
    return d.select(
        key.alias("current_weather_id"),
        "location_id",
        F.col("current.condition.code").alias("condition_code"),
        F.col("current.temp_c").alias("temperature_c"),
        F.col("current.is_day").alias("is_day"),
        F.col("current.wind_kph").alias("wind_kph"),
        F.col("current.wind_dir").alias("wind_dir"),
        F.col("current.pressure_mb").alias("pressure_mb"),
        F.col("current.precip_mm").alias("precip_mm"),
        F.col("current.humidity").alias("humidity"),  # corrected (ref uses cloud)
        F.col("current.cloud").alias("cloud"),
        F.col("current.dewpoint_c").alias("dewpoint_c"),
        F.col("current.gust_kph").alias("gust_kph"),
        F.to_date(last_upd).alias("weather_date"),
    )


def _exploded_days(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """A1: posexplode forecastday, keep positions 1 and 2 (tomorrow +
    day-after; today intentionally dropped — DataTransformation.py:202-205).
    The positional filter sits directly on the generator output."""
    d = with_location_id(docs, spark)
    return d.select(
        "location_id",
        F.posexplode("forecast.forecastday").alias("day_pos", "fd"),
    ).filter(F.col("day_pos").isin(1, 2))


def fact_forecast_day(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """A1/A2 + P1-P3 + K2 + K5 (DataTransformation.py:75-91, :202-226)."""
    days = _exploded_days(docs, spark)
    key = F.concat(
        F.col("location_id"),
        F.lit("_"),
        F.date_format(F.to_date("fd.date"), "yyyyMMdd"),
    )
    return days.select(
        key.alias("forecast_day_weather_id"),
        "location_id",
        F.col("fd.day.condition.code").alias("condition_code"),
        F.to_date("fd.date").alias("forecast_date"),
        F.col("fd.day.maxtemp_c").alias("max_temp_c"),
        F.col("fd.day.avgtemp_c").alias("avg_temp_c"),
        F.col("fd.day.mintemp_c").alias("min_temp_c"),
        F.col("fd.day.maxwind_kph").alias("max_wind_kph"),
        F.col("fd.day.totalprecip_mm").alias("total_precip_mm"),
        F.col("fd.day.totalsnow_cm").alias("total_snow_cm"),
        F.col("fd.day.avghumidity").alias("avg_humidity"),
        F.col("fd.day.daily_will_it_rain").alias("daily_will_it_rain"),
        F.col("fd.day.daily_chance_of_rain").alias("daily_chance_of_rain"),
        F.col("fd.day.daily_will_it_snow").alias("daily_will_it_snow"),
        F.col("fd.day.daily_chance_of_snow").alias("daily_chance_of_snow"),
        F.col("fd.day.uv").alias("uv"),
        F.col("fd.astro.sunrise").alias("sunrise_time"),
        F.col("fd.astro.sunset").alias("sunset_time"),
        F.col("fd.astro.moonrise").alias("moonrise_time"),
        F.col("fd.astro.moonset").alias("moonset_time"),
    )


def fact_forecast_hour(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """A3 + P4/P5 + K3 + K6: hour positions {0,10,20} with the hour index
    baked into the key (DataTransformation.py:95-113)."""
    days = _exploded_days(docs, spark)
    hours = days.select(
        "location_id",
        F.col("fd.date").alias("fd_date"),
        F.posexplode("fd.hour").alias("hour_pos", "h"),
    ).filter(F.col("hour_pos").isin(0, 10, 20))
    day_key = F.concat(
        F.col("location_id"),
        F.lit("_"),
        F.date_format(F.to_date("fd_date"), "yyyyMMdd"),
    )
    hour_key = F.concat(day_key, F.lit("_"), F.col("hour_pos").cast("string"))
    return hours.select(
        hour_key.alias("forecast_hour_weather_id"),
        day_key.alias("forecast_day_weather_id"),
        "location_id",
        F.col("h.condition.code").alias("condition_code"),
        F.to_timestamp("h.time", "yyyy-MM-dd HH:mm").alias("forecast_datetime"),
        F.col("h.temp_c").alias("temp_c"),
        F.col("h.is_day").alias("is_day"),
        F.col("h.wind_kph").alias("wind_kph"),
        F.col("h.wind_dir").alias("wind_dir"),
        F.col("h.pressure_mb").alias("pressure_mb"),
        F.col("h.precip_mm").alias("precip_mm"),
        F.col("h.humidity").alias("humidity"),
        F.col("h.cloud").alias("cloud"),
        F.col("h.dewpoint_c").alias("dewpoint_c"),
        F.col("h.gust_kph").alias("gust_kph"),
        F.col("h.will_it_rain").alias("will_it_rain"),
        F.col("h.chance_of_rain").alias("chance_of_rain"),
        F.col("h.will_it_snow").alias("will_it_snow"),
        F.col("h.chance_of_snow").alias("chance_of_snow"),
        F.col("h.snow_cm").alias("snow_cm"),
        F.col("h.uv").alias("uv"),
    )


def dim_condition(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """G3 condition capture from current + day + hour grains, one row per
    code (deterministic MIN(text)), with the K10 code-1000→'Sunny'
    rewrite (condition.sql:57-66) applied at build time.

    Unions are cheap: each branch is a narrow projection; the single
    aggregation dedups (map-side partial MIN) before any write.
    """
    cur = docs.select(
        F.col("current.condition.code").alias("condition_code"),
        F.col("current.condition.text").alias("condition_name"),
    )
    day = _exploded_days(docs, spark).select(
        F.col("fd.day.condition.code").alias("condition_code"),
        F.col("fd.day.condition.text").alias("condition_name"),
    )
    hour = (
        _exploded_days(docs, spark)
        .select(F.posexplode("fd.hour").alias("hour_pos", "h"))
        .filter(F.col("hour_pos").isin(0, 10, 20))
        .select(
            F.col("h.condition.code").alias("condition_code"),
            F.col("h.condition.text").alias("condition_name"),
        )
    )
    allc = cur.unionByName(day).unionByName(hour)
    named = allc.withColumn(
        "condition_name",
        F.when(F.col("condition_code") == 1000, F.lit("Sunny")).otherwise(
            F.col("condition_name")
        ),
    )
    return named.groupBy("condition_code").agg(
        F.min("condition_name").alias("condition_name")
    )
