"""Seeded WeatherAPI document generator for the ``etl_daily`` workload.

One document per city per run date, shaped like a ``forecast.json?days=3``
response (``schemas.WEATHER_DOC_SCHEMA``): the run date's current
conditions plus a three-day forecast window starting on the run date, so
consecutive days' windows overlap by two days and every daily load
updates keys an earlier load inserted.

The generator also derives, from the documents alone, the rows each
warehouse table must hold after a given set of run dates was loaded: the
key set, and for the two forecast facts the value each key must carry.
That mirrors the transform's documented semantics (forecast positions
{1, 2}, hour positions {0, 10, 20}, NULL keys for unknown cities) and
the load's MERGE rule without calling either, so the check is
independent of the code under test.

Pure Python: no Spark import, so the tests run without a JVM.
"""

from __future__ import annotations

import datetime as dt
import json
import random

# (name, location_id, region, country) — the engine's CITY_CODES cities
# (plans/weather_transform.py) plus two names it does not know, whose
# facts get NULL keys and must be filtered before the load (K4).
KNOWN_CITIES = [
    ("New Delhi", "DEL", "Delhi", "India"),
    ("Bangalore", "BAN", "Karnataka", "India"),
    ("Chennai", "CHE", "Tamil Nadu", "India"),
    ("Pune", "PUN", "Maharashtra", "India"),
    ("Mumbai", "MUM", "Maharashtra", "India"),
    ("Hyderabad", "HYD", "Telangana", "India"),
    ("Jaipur", "JAI", "Rajasthan", "India"),
    ("Kochi", "KOC", "Kerala", "India"),
    ("Kolkata", "KOL", "West Bengal", "India"),
    ("Ahmedabad", "ADB", "Gujarat", "India"),
]
UNKNOWN_CITIES = [
    ("Atlantis", None, "Nowhere", "Unknown"),
    ("El Dorado", None, "Nowhere", "Unknown"),
]
CITIES = KNOWN_CITIES + UNKNOWN_CITIES

# WeatherAPI condition codes; 1000 is the one the warehouse renames
# 'Sunny' (K10). Texts vary per document so dim_condition's MIN(text)
# tie-break is exercised.
CONDITION_CODES = [1000, 1003, 1006, 1009, 1030, 1063, 1183, 1189, 1195, 1273]
CONDITION_TEXTS = ["Clear", "Cloudy", "Overcast", "Mist", "Rain", "Showers"]
WIND_DIRS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW"]

DAY_POSITIONS = (1, 2)  # forecastday positions the transform keeps
HOUR_POSITIONS = (0, 10, 20)  # hour positions the transform keeps
FORECAST_DAYS = 3

TABLES = (
    "location", "condition", "current_weather",
    "forecast_day_weather", "forecast_hour_weather",
)
# table -> key column and the value columns checked per key. A forecast
# key is carried by the documents of two run dates, so these are the
# columns a tick's MERGE updates.
KEY_COLUMNS = {
    "location": "location_id",
    "condition": "condition_code",
    "current_weather": "current_weather_id",
    "forecast_day_weather": "forecast_day_weather_id",
    "forecast_hour_weather": "forecast_hour_weather_id",
}
VALUE_COLUMNS = {
    "forecast_day_weather": ("condition_code", "max_temp_c"),
    "forecast_hour_weather": ("condition_code", "temp_c"),
}


def _q(rng: random.Random, lo: float, hi: float) -> float:
    """Quarter-precision value in [lo, hi]: exact in binary, so the CSV
    round trip of the curated zone cannot perturb it."""
    return round(rng.uniform(lo, hi) * 4) / 4


def _condition(rng: random.Random) -> dict:
    return {"code": rng.choice(CONDITION_CODES), "text": rng.choice(CONDITION_TEXTS)}


def _hour(rng: random.Random, date: str, h: int) -> dict:
    return {
        "time": f"{date} {h:02d}:00",
        "temp_c": _q(rng, 12.0, 42.0),
        "is_day": 1 if 6 <= h < 18 else 0,
        "wind_kph": _q(rng, 0.0, 40.0),
        "wind_dir": rng.choice(WIND_DIRS),
        "pressure_mb": _q(rng, 990.0, 1030.0),
        "precip_mm": _q(rng, 0.0, 8.0),
        "humidity": rng.randint(10, 100),
        "cloud": rng.randint(0, 100),
        "dewpoint_c": _q(rng, 0.0, 25.0),
        "gust_kph": _q(rng, 0.0, 60.0),
        "will_it_rain": rng.randint(0, 1),
        "chance_of_rain": rng.randint(0, 100),
        "will_it_snow": 0,
        "chance_of_snow": 0,
        "snow_cm": 0.0,
        "uv": _q(rng, 0.0, 11.0),
        "condition": _condition(rng),
    }


def _forecastday(rng: random.Random, date: str) -> dict:
    lo = _q(rng, 10.0, 25.0)
    return {
        "date": date,
        "day": {
            "maxtemp_c": lo + _q(rng, 8.0, 15.0),
            "avgtemp_c": lo + _q(rng, 3.0, 7.0),
            "mintemp_c": lo,
            "maxwind_kph": _q(rng, 5.0, 45.0),
            "totalprecip_mm": _q(rng, 0.0, 30.0),
            "totalsnow_cm": 0.0,
            "avghumidity": _q(rng, 20.0, 95.0),
            "daily_will_it_rain": rng.randint(0, 1),
            "daily_chance_of_rain": rng.randint(0, 100),
            "daily_will_it_snow": 0,
            "daily_chance_of_snow": 0,
            "uv": _q(rng, 0.0, 11.0),
            "condition": _condition(rng),
        },
        "astro": {
            "sunrise": f"05:{rng.randint(10, 59):02d} AM",
            "sunset": f"06:{rng.randint(10, 59):02d} PM",
            "moonrise": f"0{rng.randint(1, 9)}:{rng.randint(10, 59):02d} PM",
            "moonset": f"0{rng.randint(1, 9)}:{rng.randint(10, 59):02d} AM",
        },
        "hour": [_hour(rng, date, h) for h in range(24)],
    }


def make_doc(seed: int, city_index: int, run_date: dt.date) -> dict:
    """The document fetched for one city on one run date. Each
    (seed, city, date) has its own stream, so a document does not depend
    on how many other days or cities were generated."""
    rng = random.Random(f"{seed}/{city_index}/{run_date.isoformat()}")
    name, _loc, region, country = CITIES[city_index]
    minute = rng.randint(0, 59)
    return {
        "location": {
            "name": name,
            "region": region,
            "country": country,
            "lat": 8.0 + 2.25 * city_index,
            "lon": 70.0 + 1.5 * city_index,
        },
        "current": {
            "last_updated": f"{run_date.isoformat()} 0{rng.randint(6, 9)}:{minute:02d}",
            "temp_c": _q(rng, 12.0, 42.0),
            "is_day": 1,
            "wind_kph": _q(rng, 0.0, 40.0),
            "wind_dir": rng.choice(WIND_DIRS),
            "pressure_mb": _q(rng, 990.0, 1030.0),
            "precip_mm": _q(rng, 0.0, 8.0),
            "humidity": rng.randint(10, 100),
            "cloud": rng.randint(0, 100),
            "dewpoint_c": _q(rng, 0.0, 25.0),
            "gust_kph": _q(rng, 0.0, 60.0),
            "condition": _condition(rng),
        },
        "forecast": {
            "forecastday": [
                _forecastday(rng, (run_date + dt.timedelta(days=d)).isoformat())
                for d in range(FORECAST_DAYS)
            ]
        },
    }


def run_dates(start: dt.date, n: int) -> list[dt.date]:
    return [start + dt.timedelta(days=i) for i in range(n)]


def day_docs(seed: int, run_date: dt.date) -> list[dict]:
    """Every city's document for one run date."""
    return [make_doc(seed, i, run_date) for i in range(len(CITIES))]


def payloads(docs: list[dict]) -> dict[str, str]:
    """city name -> raw JSON body, as a canned fetcher serves it."""
    return {d["location"]["name"]: json.dumps(d, separators=(",", ":")) for d in docs}


def canned_fetcher(bodies: dict[str, str]):
    """A ``sources.rest.extract`` fetcher that answers from ``bodies``."""

    def fetch(city: str) -> str | None:
        return bodies.get(city)

    return fetch


def _ymd(date: str) -> str:
    return date.replace("-", "")


def expected_rows(docs: list[dict]) -> dict[str, dict]:
    """table -> {key: values} after loading ``docs``, where values are
    the ``VALUE_COLUMNS`` of that table (an empty tuple for the others).

    Every tick re-stages the whole raw zone, and the MERGE keeps one
    staged row per key: the first in ascending order of the non-key
    columns (``operators/upsert.py``, ``dedup_updates``). For a forecast
    key the leading non-key columns (location, date) are the same in
    every document, so the winner is the smallest (condition_code, value)
    over all documents loaded so far. An upsert that skipped updates to
    keys already in the warehouse would keep an older, larger one."""
    loc_of = {name: loc for name, loc, _r, _c in CITIES}
    rows: dict[str, dict] = {t: {} for t in TABLES}

    def keep(table: str, key, values: tuple = ()) -> None:
        old = rows[table].get(key)
        rows[table][key] = values if old is None else min(old, values)

    for d in docs:
        loc = loc_of[d["location"]["name"]]
        cur = d["current"]
        keep("condition", cur["condition"]["code"])
        days = d["forecast"]["forecastday"]
        for pos in DAY_POSITIONS:
            fd = days[pos]
            keep("condition", fd["day"]["condition"]["code"])
            for hpos in HOUR_POSITIONS:
                keep("condition", fd["hour"][hpos]["condition"]["code"])
        if loc is None:
            continue  # NULL-keyed facts never reach the warehouse
        keep("location", loc)
        keep("current_weather", f"{loc}_{_ymd(cur['last_updated'][:10])}")
        for pos in DAY_POSITIONS:
            fd = days[pos]
            day_key = f"{loc}_{_ymd(fd['date'])}"
            keep("forecast_day_weather", day_key,
                 (fd["day"]["condition"]["code"], fd["day"]["maxtemp_c"]))
            for hpos in HOUR_POSITIONS:
                h = fd["hour"][hpos]
                keep("forecast_hour_weather", f"{day_key}_{hpos}",
                     (h["condition"]["code"], h["temp_c"]))
    return rows


def check_load(
    audits: dict[str, list[tuple[int, int, int]]],
    statuses: dict[str, list[tuple[int, str]]],
    warehouse: dict[str, dict],
    expected: dict[str, dict],
) -> list[str]:
    """Problems found after one load; empty when the load is correct.

    ``warehouse`` and ``expected`` map table -> {key: values}, as
    ``expected_rows`` gives them. A load is correct when every
    micro-batch audit has n0 == n1, every status says ``Success``, each
    table holds exactly the expected keys (no lost upsert, no stray
    NULL-city row) and every key carries the expected values (no stale
    update)."""
    problems = []
    for table, entries in audits.items():
        for batch_id, n0, n1 in entries:
            if n0 != n1:
                problems.append(f"{table} batch {batch_id}: audit n0={n0} n1={n1}")
    for table, entries in statuses.items():
        for batch_id, status in entries:
            if not status.startswith("Success"):
                problems.append(f"{table} batch {batch_id}: {status}")
    for table in TABLES:
        got, want = warehouse.get(table, {}), expected[table]
        if got.keys() != want.keys():
            lost, extra = sorted(want.keys() - got.keys()), sorted(got.keys() - want.keys())
            problems.append(
                f"{table}: {len(lost)} keys lost {lost[:3]}, "
                f"{len(extra)} unexpected {extra[:3]}"
            )
        stale = sorted(k for k in want.keys() & got.keys() if got[k] != want[k])
        if stale:
            shown = [(k, got[k], want[k]) for k in stale[:3]]
            problems.append(f"{table}: {len(stale)} keys with wrong values {shown}")
    return problems
