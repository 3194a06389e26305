"""Event-behavior analytics + frequency mining (round 4b, part 2).

Engine extensions beyond the reference (SURVEY.md §2.I): the event-log
analytics a product warehouse runs daily (ordered funnels, retention
cohorts) and an exact heavy-hitters operator whose candidate stage is
the per-batch frequent-items pruning trick — the only Python in this
module, and it is an Arrow-vectorized candidate GENERATOR whose final
answer is recomputed exactly in SQL-land (so the query still carries a
full DuckDB oracle).

Scale notes (100 TB story):
- q97/q98 are join + partial-agg chains keyed on user_id — no windows,
  no single-task stages; the per-user min-timestamp frames shuffle one
  row per user per step.
- q99's candidate stage reads each Arrow batch once and emits only
  terms that are frequent WITHIN that batch (pigeonhole: a term with
  global share >= theta must reach theta-share in at least one batch,
  so the union of per-batch frequent terms is a guaranteed superset of
  the true heavy hitters). The exact verify then counts ONLY rows
  matching candidates — the full distinct-term aggregation never
  happens, which is the point at a 100 TB vocabulary. The threshold
  compare is integer arithmetic (count*1000 >= 34*N), never a float.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as TX
from ..schemas import load_table
from ._buckets import bucket_of, bucket_offsets, quantile_bounds

_TOK = "string_split_regex(lower(trim(text)), '\\s+')"

# q99 heavy-hitter share: theta = 34/1000 (3.4%) — chosen inside the
# testdata's term-share spread so the cut is non-trivial at every SF.
_HH_NUM = 34
_HH_DEN = 1000


def q97_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event log: per user, the
    earliest 'view', then the earliest 'click' within (0, 1 hour]
    after it, then the earliest 'purchase' within (0, 1 hour] after
    that; a user's depth is how many stages they completed (0..3).
    Output: depth, n_users. The stage window is what makes the funnel
    discriminate — unbounded stages saturate on any dense log.

    The classic warehouse funnel without MATCH_RECOGNIZE: each stage is
    one (filtered) min-timestamp aggregate joined to the previous
    stage — per-user single rows shuffle, never event history."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    depth = (
        users.join(v.select("user_id", F.lit(1).alias("s1")), "user_id", "left")
        .join(c.select("user_id", F.lit(1).alias("s2")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("s3")), "user_id", "left")
        .select(
            (
                F.coalesce(F.col("s1"), F.lit(0))
                + F.coalesce(F.col("s2"), F.lit(0))
                + F.coalesce(F.col("s3"), F.lit(0))
            ).alias("depth")
        )
    )
    return depth.groupBy("depth").agg(F.count(F.lit(1)).alias("n_users"))


def q98_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention cohorts: users grouped by first-activity day,
    then for each later active day the distinct-user count at that day
    offset — the standard cohort-retention matrix. Two partial aggs
    (first-day per user, distinct activity days) and one join; the
    matrix is (days x days)-sized, never event-sized."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort_day")
    )
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    return (
        active.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def _frequent_in_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-Arrow-batch frequent-term candidate generator (q99): exact
    value_counts within the batch, emit terms at >= theta share OF THE
    BATCH. Vectorized (no per-row Python); superset guarantee by
    pigeonhole — see module docstring."""
    for pdf in batches:
        if pdf.empty:
            continue
        vc = pdf["term"].value_counts()
        yield pd.DataFrame(
            {"term": vc[vc * _HH_DEN >= _HH_NUM * len(pdf)].index}
        )


def q99_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (terms with share >= 3.4%) without
    aggregating the full vocabulary: an Arrow-batched per-batch
    frequent-items pass emits a guaranteed-superset candidate list
    (tiny), the token stream is semi-joined to it, and only candidate
    terms get exact counts. The final threshold is the integer compare
    count*1000 >= 34*N — the answer is bit-exact and the oracle is the
    plain GROUP BY ... HAVING twin."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode_outer(TX.tokens("text")).alias("term")).filter(
        F.col("term").isNotNull()
    )
    cands = (
        toks.mapInPandas(_frequent_in_batch, "term string")
        .distinct()
    )
    n = toks.agg(F.count(F.lit(1)).alias("n_total"))
    counted = (
        toks.join(cands, "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_term"))
    )
    return (
        counted.crossJoin(F.broadcast(n))
        .filter(
            F.col("n_term") * _HH_DEN >= F.lit(_HH_NUM) * F.col("n_total")
        )
        .select(
            "term",
            "n_term",
            F.round(F.col("n_term") / F.col("n_total"), 6).alias("share"),
        )
    )


def q113_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit — the measurement that SIZES a
    streaming watermark: treating event_id as arrival order (the
    generator's monotone sequence), an event is "late" if some
    earlier-arriving event of the same user already carried a larger
    event-time ts. Reports per user the event count, late count, and
    the maximum lateness in microseconds — max_lateness over the fleet
    is exactly the withWatermark() bound that would have dropped
    nothing (see streaming/windows.py, which uses a fixed bound the
    other direction).

    Scale shape: one window over (user_id, arrival order) — the q31
    sessionize shape, ONE exchange keyed by user, running max inside
    the sorted partition, then a per-user partial agg."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.unix_micros(F.max("ts").over(w)).alias("hwm_us"),
    ).select(
        "user_id",
        F.when(
            F.col("hwm_us") > F.col("ts_us"),
            F.col("hwm_us") - F.col("ts_us"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lateness_us"),
    )
    return marked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("lateness_us") > 0).cast("long")).alias("n_late"),
        F.max("lateness_us").alias("max_lateness_us"),
    )


# q117 z-score geometry: the trailing baseline is the 24 PRECEDING
# hourly buckets (current hour excluded — it is the value under test),
# with a 12-bucket minimum before any score is emitted. mean/variance
# derive from exact integer window sums (count, sum, sum-of-squares),
# so the ONLY float work is this one shared expression — explicit
# DOUBLE casts for the q122/_HLL_EST reason (neither engine may route
# the literals through its own decimal promotion), NULL when the
# trailing window is degenerate (too short or zero variance).
_Z_EXPR = (
    "CASE WHEN n >= 12 AND (CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " > CAST(0.0 AS DOUBLE)"
    " THEN ROUND((CAST(cnt AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / sqrt((CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))), 4)"
    " ELSE NULL END"
)


def q117_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on event-rate time series:
    hourly event counts per type, each hour scored against the mean and
    sample stddev of its 24 PRECEDING hourly buckets — the ops-metrics
    "is this hour's traffic abnormal" monitor (|z| >= 2 flags the
    anomaly; the score is NULL until 12 baseline buckets exist or when
    the baseline has zero variance, so cold starts never alert).

    Scale shape: raw events collapse to an (hour, type) frame in ONE
    partial-agg shuffle; the rolling window runs on that tiny frame
    (hours x types rows), partitioned by event_type — never on events.
    The baseline moments are exact integer window sums; the z-score is
    a single shared float chain (``_Z_EXPR``) both engines run
    identically."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-24, -1)
    )
    based = hourly.select(
        "hour_start",
        "event_type",
        "cnt",
        F.count(F.lit(1)).over(wb).alias("n"),
        F.sum("cnt").over(wb).alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).over(wb).alias("s2"),
    )
    return based.select(
        "hour_start",
        "event_type",
        "cnt",
        F.col("n").alias("n_baseline"),
        F.expr(_Z_EXPR).alias("zscore"),
        (F.abs(F.coalesce(F.expr(_Z_EXPR), F.lit(0.0))) >= 2.0).alias(
            "is_anomaly"
        ),
    )


def q134_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert per acquisition cohort: users grouped by
    first-activity day; a converter's latency is the integer seconds
    from their first 'view' to the first 'purchase' AFTER that view.
    Output per cohort day: converter count and the exact min / median
    / max latency — the "how fast does this cohort monetize" rollup.

    The median is q36's rank-vs-count selection over integer seconds
    (exact in both engines); latencies are epoch differences, so no
    timezone or calendar arithmetic touches the value. Scale shape:
    three per-user min aggregates and one per-cohort sort window over
    single-row-per-converter frames — event history never sorts."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort_day")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    lat = (
        p.join(v, "user_id")
        .join(first, "user_id")
        .select(
            "cohort_day",
            "user_id",
            # exact microsecond difference floor-divided to seconds:
            # second-granularity epoch casts disagree across engines on
            # fractional seconds (Spark floors, DuckDB rounds)
            (
                (F.unix_micros("tp") - F.unix_micros("tv"))
                / F.lit(1_000_000)
            ).cast("long").alias("ttc_s"),
        )
    )
    from ..caching import persist_tracked

    lat = persist_tracked(lat)
    w = Window.partitionBy("cohort_day").orderBy("ttc_s", "user_id")
    wn = Window.partitionBy("cohort_day")
    ranked = lat.select(
        "cohort_day",
        "ttc_s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
    ).groupBy("cohort_day").agg(F.avg("ttc_s").alias("median_ttc_s"))
    stats = lat.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.min("ttc_s").alias("min_ttc_s"),
        F.max("ttc_s").alias("max_ttc_s"),
    )
    return stats.join(med, "cohort_day").select(
        "cohort_day",
        "n_converters",
        "min_ttc_s",
        "median_ttc_s",
        "max_ttc_s",
    )


# q145 candidate watermark delays (seconds) — a fixed audit grid, so
# the whole curve is ONE aggregate pass with one conditional sum per
# candidate, never a delay × event fan-out. Arrival time is simulated
# as event time plus a deterministic Knuth-hash network delay in
# [0, 600 s) — the generator's log is perfectly ordered (q113 measures
# zero native disorder), so an honest watermark exercise needs a
# stated delivery-delay model, and a hashed one keeps the whole curve
# reproducible on any cluster (the q39/q125 no-RNG discipline).
_WM_GRID = (0, 1, 10, 60, 300, 1800, 3600)
_WM_JIT_MULT = 2654435761
_WM_JIT_MOD = 4294967296
_WM_JIT_SPAN_US = 600 * 1_000_000


def q145_watermark_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing curve: for each candidate ``withWatermark``
    delay, how many events the stream would DROP (lateness under the
    stated hash-jitter delivery model exceeds the delay) and the drop
    rate — the table an engineer reads to pick the smallest delay with
    acceptable loss, instead of guessing and silently losing sessions.
    An event is late by hwm − ts where hwm is the largest event time
    already DELIVERED for that user (arrival order = ts + jitter).

    Scale shape: lateness is one user-keyed window over arrival order
    (q113's shape); the seven candidate counts are conditional sums
    inside ONE partial agg (the grid never multiplies the event
    table), unpivoted with stack into the 7-row curve."""
    ev = load_table(spark, sf_dir, "events")
    jit = (
        F.col("event_id") * F.lit(_WM_JIT_MULT) % F.lit(_WM_JIT_MOD)
    ) % F.lit(_WM_JIT_SPAN_US)
    arr = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        (F.unix_micros(F.col("ts")) + jit).alias("arr_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = arr.select(
        "ts_us",
        F.max("ts_us").over(w).alias("hwm_us"),
    ).select(
        F.when(
            F.col("hwm_us") > F.col("ts_us"),
            F.col("hwm_us") - F.col("ts_us"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lateness_us"),
    )
    aggs = [F.count(F.lit(1)).alias("n_events")] + [
        F.sum(
            (F.col("lateness_us") > d * 1_000_000).cast("long")
        ).alias(f"d{d}")
        for d in _WM_GRID
    ]
    wide = late.agg(*aggs)
    stack = ", ".join(f"{d}, d{d}" for d in _WM_GRID)
    return wide.select(
        "n_events",
        F.expr(
            f"stack({len(_WM_GRID)}, {stack}) AS (delay_s, n_dropped)"
        ),
    ).select(
        F.col("delay_s").cast("int").alias("delay_s"),
        "n_events",
        "n_dropped",
        F.round(
            F.col("n_dropped").cast("double")
            / F.col("n_events").cast("double"),
            6,
        ).alias("drop_rate"),
    )


# q153's z statistic as ONE shared double chain over the four exact
# integer counts (xa, na, xb, nb) — pooled two-proportion z-test, the
# q122/_Z_EXPR convention of explicit DOUBLE casts throughout.
# The whole statistic is CASE-guarded: ANSI Spark evaluates the
# projection against partial-aggregate rows (where counts are 0 and
# the pooled variance collapses to 0 — double/0 RAISES under ANSI),
# and a degenerate pooled rate (0 or 1) leaves z undefined anyway —
# NULL is the correct value in both situations.
_AB_Z = (
    "CASE WHEN na > 0 AND nb > 0 AND xa + xb > 0"
    " AND xa + xb < na + nb THEN"
    " ROUND((CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))"
    " / sqrt((CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
    " * (1 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
    " * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))), 6)"
    " ELSE NULL END"
)


def q153_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between a deterministic 50/50 experiment
    assignment (variant = user_id % 2 — stated, reproducible, the q39
    no-RNG discipline applied to experiment bucketing) on the outcome
    "user's purchase spend exceeds the global per-user mean" — chosen
    over ever-purchased because EVERY synthetic user purchases (a
    saturated outcome has zero variance and the test degenerates);
    above-mean splits users non-trivially by construction. The compare
    runs in exact decimal (s·n > total — multiplied through, no
    division). Output: one row with both arms' sizes, conversions and
    rates, the pooled z statistic, and the |z| > 1.96 verdict — the
    experimentation-platform readout every event warehouse serves.

    Scale shape: spend collapses to one row per user in a single
    partial agg; the mean compare is one broadcast scalar; the four
    test counts are conditional sums in ONE aggregate; the z chain is
    scalar math on that single row."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        ).alias("s")
    )
    tot = per_user.agg(
        F.sum("s").alias("total"), F.count(F.lit(1)).alias("n_users")
    )
    flagged = per_user.crossJoin(F.broadcast(tot)).select(
        "user_id",
        (F.col("s") * F.col("n_users") > F.col("total"))
        .cast("int")
        .alias("converted"),
    )
    counts = flagged.select(
        "converted", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.sum((F.col("variant") == 0).cast("long")).alias("na"),
        F.sum(
            ((F.col("variant") == 0) & (F.col("converted") == 1)).cast(
                "long"
            )
        ).alias("xa"),
        F.sum((F.col("variant") == 1).cast("long")).alias("nb"),
        F.sum(
            ((F.col("variant") == 1) & (F.col("converted") == 1)).cast(
                "long"
            )
        ).alias("xb"),
    )
    return counts.select(
        "na",
        "xa",
        F.round(
            F.col("xa").cast("double") / F.expr("nullif(na, 0)"), 6
        ).alias("rate_a"),
        "nb",
        "xb",
        F.round(
            F.col("xb").cast("double") / F.expr("nullif(nb, 0)"), 6
        ).alias("rate_b"),
        F.expr(_AB_Z).alias("z_score"),
        (F.abs(F.expr(_AB_Z)) > 1.96).alias("significant"),
    )


# q159 study design: clock starts at each user's first event, the
# event of interest is the first purchase, and the study closes at an
# administrative cutoff (2024-01-02T00:00:00Z as epoch micros) — users
# whose first purchase lands after the cutoff are right-censored at it,
# the standard "analysis date" censoring. Users entering after the
# cutoff are out of study. All clock math runs on epoch MICROSECONDS
# (Spark unix_micros == DuckDB epoch_us, the q134 convention) with
# integer DIV to hours.
_KM_CUTOFF_US = 1_704_153_600_000_000
# Per-time hazard factor ln(1 - d/n) snapped to 9 decimals (the corpus
# ln convention) so the cumulative-sum survival curve is exact and
# order-independent; NULL when d = n_risk (survival hits exactly 0 —
# handled by the zeroed flag, not the log).
_KM_LOG = (
    "CASE WHEN d < n_risk THEN"
    " CAST(ROUND(ln(1 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 9)"
    " AS DECIMAL(18,9)) ELSE NULL END"
)
_KM_SURV = (
    "CASE WHEN zeroed = 1 THEN CAST(0.0 AS DOUBLE)"
    " ELSE ROUND(exp(CAST(cumlog AS DOUBLE)), 6) END"
)


def q159_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase with
    right censoring at an administrative cutoff — the survival-analysis
    primitive behind activation, churn, and retention questions that
    q98's fixed cohort windows can't answer (censoring is what makes
    naive "average time to convert" biased: users who haven't converted
    YET still carry information). Output: one row per event time
    (hours since first activity) with the at-risk count, events,
    censorings at that time, and the product-limit survival estimate.

    Scale shape: the event log collapses to one row per user in a
    single partial agg (min timestamps only); users collapse to one row
    per distinct duration-hour in a second. All three cumulations over
    that curve frame (suffix-sum at-risk counts, prefix-sum cumulative
    hazard, prefix-max zero flag) run as the q150 two-phase rewrite
    (VERDICT r05 #2): 31 sampled dur_h boundaries bucket the frame,
    each bucket scans locally in parallel (windows partitioned by
    bucket), and per-bucket totals stitch the global values through
    broadcast triangular self-joins on the ≤33-row bucket frames — NO
    unpartitioned window survives even if the time grid is unbounded.
    The suffix sum is total − exclusive prefix (the at-risk identity),
    so one bucketing serves all three scans. The product limit itself
    is the corpus ln-snap convention: per-time factors round to
    decimal(18,9), SUM is exact, exp at the end. (cumlog's coalesce-0
    on all-NULL local prefixes is observationally safe: lg is NULL only
    where d = n_risk, which zeroes `zeroed` for that row and every
    later one, and _KM_SURV masks survival to 0.0 before cumlog is
    read.)"""
    ev = load_table(spark, sf_dir, "events")
    c = F.lit(_KM_CUTOFF_US)
    pu = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros("ts")
            )
        ).alias("tp"),
    )
    st = pu.filter(F.col("t0") <= c).select(
        F.when(
            F.col("tp").isNotNull() & (F.col("tp") <= c), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("ev"),
        F.expr(
            f"CAST((LEAST(COALESCE(tp, {_KM_CUTOFF_US}),"
            f" {_KM_CUTOFF_US}) - t0) DIV 3600000000 AS BIGINT)"
        ).alias("dur_h"),
    )
    g = st.groupBy("dur_h").agg(
        F.count(F.lit(1)).alias("n_at"), F.sum("ev").alias("d")
    )

    bnds = quantile_bounds(g, "dur_h")
    bucketed = g.withColumn("_bkt", bucket_of("dur_h", bnds))
    # phase 1: per-bucket n_at totals -> exclusive-prefix offsets and
    # the grand total (broadcast triangular join, no window)
    bs = bucketed.groupBy("_bkt").agg(F.sum("n_at").alias("bn"))
    offs = bucket_offsets(bs, {"boff": (F.sum, "bn")})
    tot = bs.agg(F.sum("bn").alias("tw"))
    wl = Window.partitionBy("_bkt").orderBy("dur_h")
    r1 = (
        bucketed.join(F.broadcast(offs), "_bkt")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "n_risk",
            F.col("tw")
            - F.col("boff")
            - F.coalesce(
                F.sum("n_at").over(
                    wl.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("lg", F.expr(_KM_LOG))
        .withColumn("zf", (F.col("d") == F.col("n_risk")).cast("int"))
    )
    # phase 2: per-bucket lg sums / zf maxes -> global prefix values
    bs2 = r1.groupBy("_bkt").agg(
        F.sum("lg").alias("blg"), F.max("zf").alias("bzf")
    )
    offs2 = bucket_offsets(
        bs2, {"boff_lg": (F.sum, "blg"), "boff_zf": (F.max, "bzf")}
    )
    r = (
        r1.join(F.broadcast(offs2), "_bkt")
        .withColumn(
            "cumlog",
            F.col("boff_lg")
            + F.coalesce(
                F.sum("lg").over(
                    wl.rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "zeroed",
            F.greatest(
                F.col("boff_zf"),
                F.max("zf").over(
                    wl.rowsBetween(Window.unboundedPreceding, 0)
                ),
            ),
        )
    )
    return r.filter(F.col("d") > 0).select(
        "dur_h",
        "n_risk",
        F.col("d").alias("n_events"),
        (F.col("n_at") - F.col("d")).alias("n_censored"),
        F.expr(_KM_SURV).alias("survival"),
    )


# q162 decay table: 0.9^d for integer ages, snapped to 9 decimals in
# PYTHON and embedded as plan literals on BOTH engine sides — libm pow
# is not correctly rounded, so evaluating 0.9^d at runtime could differ
# by an ulp between the JVM and DuckDB; a 64-entry literal table (the
# kmeans plan-literal convention) removes the risk entirely.
# Contributions older than the horizon decay to exactly 0 (0.9^64 ≈
# 1e-3 — the standard EWMA truncation, stated as part of the contract).
_ENG_REF_US = 1_706_659_200_000_000  # 2024-01-31T00:00:00Z
_ENG_DECAY = [round(0.9**d, 9) for d in range(64)]
_ENG_SQL_ARR = "[" + ", ".join(f"{v:.9f}" for v in _ENG_DECAY) + "]"


def q162_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score per user: purchase values weighted
    by 0.9^(age in whole days from a fixed reference date) — the
    recency-weighted feature every ranking/propensity model consumes
    (a flat lifetime sum can't distinguish a lapsed big spender from an
    active regular; exponential decay is the standard fix). Output:
    one row per user with purchase count, flat lifetime spend, and the
    decayed score.

    Scale shape: a pure scan-side projection (age → literal-table
    decay lookup → per-event contribution) followed by ONE partial-agg
    shuffle keyed user_id; the 64-entry decay table rides the plan as
    a literal array, so no join and no runtime pow() anywhere —
    contributions snap to decimal(18,9) before the exact sum (q135
    convention), making the score independent of aggregation order."""
    ev = load_table(spark, sf_dir, "events")
    age = F.expr(
        f"CAST(({_ENG_REF_US} - unix_micros(ts)) DIV 86400000000"
        " AS INT)"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.when(
            (age >= 0) & (age < 64),
            F.element_at(
                F.lit(_ENG_DECAY).cast("array<double>"), age + 1
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("decay"),
    )
    scored = p.withColumn(
        "contrib",
        F.expr(
            "CAST(ROUND(CAST(v AS DOUBLE) * decay, 9)"
            " AS DECIMAL(18,9))"
        ),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("v").cast("double").alias("lifetime_spend"),
        F.round(F.sum("contrib").cast("double"), 6).alias(
            "engagement"
        ),
    )


# q146 alphabet: one char per event type keeps the per-user sequence
# string tiny and the pattern readable. The funnel pattern is
# "view, then purchase with only clicks between" — non-overlapping
# leftmost matches, identical in Java regex and RE2 for this
# backreference-free pattern.
_SEQ_CASE = (
    "CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'"
    " WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END"
)
_SEQ_PATTERN = "vc*p"


def q146_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching without
    MATCH_RECOGNIZE: each user's event history becomes a compact
    symbol string (ordered by ts, event_id), and the funnel pattern
    ``vc*p`` — a view converting to a purchase through clicks only —
    is counted per user with non-overlapping regex semantics. Output:
    how many users achieved each match count (0 included: the users
    the funnel never converts).

    Scale shape: ONE user-keyed aggregate builds the ordered symbol
    string (collect_list + array_sort — per-user history lives in one
    task, the q31 sessionize assumption); the regex runs row-locally
    on the per-user string; the rollup is a tiny count-by-count agg."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                "ts", "event_id", F.expr(_SEQ_CASE).alias("ch")
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda t: t["ch"]
                ),
            ).alias("seq")
        )
    )
    per_user = seq.select(
        F.regexp_count("seq", F.lit(_SEQ_PATTERN)).alias("n_matches")
    )
    return per_user.groupBy("n_matches").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def q183_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top conversion paths: for every user who purchased, the exact
    event-type path (q146's one-char alphabet) ENDING at their first
    purchase, truncated to the last 8 steps, counted across users —
    the path-mining rollup behind funnel redesign ('what do people
    actually do right before converting?'). Non-converters are
    excluded by the regex itself (no match → empty → filtered).

    Scale shape: q146's plan — one user-keyed aggregate builds the
    ordered symbol string row-locally, the path extraction is a
    row-local regexp + right(), and the rollup is one path-keyed
    partial agg whose key space is bounded by the 8-step truncation
    (≤ 5^8), not by users."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                "ts", "event_id", F.expr(_SEQ_CASE).alias("ch")
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda t: t["ch"]
                ),
            ).alias("seq")
        )
    )
    pfx = seq.select(
        F.regexp_extract("seq", "^[^p]*p", 0).alias("pfx")
    ).filter(F.col("pfx") != "")
    return (
        pfx.select(F.expr("right(pfx, 8)").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q139_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    every (from_type, to_type) pair of CONSECUTIVE events within a
    user's timeline, the transition count and conditional probability
    P(to | from) — the behavioral fingerprint that powers next-action
    prediction baselines and funnel-shape drift alerts.

    Determinism: consecutive = lead() over (ts, event_id), the q50
    ordering. The probability is one rounded double of two exact
    integers. Scale shape: one per-user window sort (narrow — rows are
    (user, type, ts, id)), then a partial-agg pair count; the
    marginals broadcast onto the 25-cell matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    marg = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return pairs.join(F.broadcast(marg), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.col("n_from").cast("double"),
            6,
        ).alias("p_to_given_from"),
    )


def q130_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-/last-touch conversion attribution: for every user whose
    log contains a purchase, the touches are all non-purchase events
    strictly before the FIRST purchase; the earliest touch earns
    first-touch credit, the latest earns last-touch credit. Output:
    one row per event type seen as a touch, with both credit counts
    and the type's total touch volume — the marketing-attribution
    rollup every event warehouse ships.

    Determinism: "first purchase" and first/last touch all order by
    (ts, event_id) — event_id breaks timestamp ties, so the credited
    rows are unique. Scale shape: conversions are ONE min-struct
    partial agg (per-user single rows shuffle, not histories); touch
    credits are another min/max-struct agg over the touch set, so no
    window ever sorts the event log; the persisted touch frame feeds
    both the credit agg and the volume agg."""
    from ..caching import persist_tracked

    ev = load_table(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("cv"))
        .select(
            "user_id",
            F.col("cv.ts").alias("cts"),
            F.col("cv.event_id").alias("ceid"),
        )
    )
    touches = persist_tracked(
        ev.filter(F.col("event_type") != "purchase")
        .join(conv, "user_id")
        .filter(
            (F.col("ts") < F.col("cts"))
            | (
                (F.col("ts") == F.col("cts"))
                & (F.col("event_id") < F.col("ceid"))
            )
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    picks = touches.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("ft"),
        F.max(F.struct("ts", "event_id", "event_type")).alias("lt"),
    )
    first = picks.groupBy(
        F.col("ft.event_type").alias("event_type")
    ).agg(F.count(F.lit(1)).alias("n_first"))
    last = picks.groupBy(
        F.col("lt.event_type").alias("event_type")
    ).agg(F.count(F.lit(1)).alias("n_last"))
    vol = touches.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_touches")
    )
    return (
        vol.join(first, "event_type", "left")
        .join(last, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("n_first", F.lit(0)).alias("n_first_touch"),
            F.coalesce("n_last", F.lit(0)).alias("n_last_touch"),
            "n_touches",
        )
    )


# q181's event-order key: (epoch µs, event_id) packed into ONE
# zero-padded string, because DuckDB's arg_min/arg_max take a single
# sortable key — fixed-width decimal strings compare exactly like the
# integers they encode, so min_by/arg_min agree across engines.
_OHLC_KEY = (
    "lpad(CAST(us AS STRING), 20, '0') || '|'"
    " || lpad(CAST(event_id AS STRING), 20, '0')"
)


def q181_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars over purchase values — open/high/low/close +
    volume, the canonical ORDER-SENSITIVE aggregation (open/close
    depend on event order within the bar, not just the value set)
    that candle-stick resamplers and metric rollups need. min_by/
    max_by over a total event-order key make the order dependence an
    aggregate, not a sort: no window, no per-day ordering pass.

    Scale shape: one scan-side projection + ONE day-keyed partial
    agg — min_by/max_by combine map-side exactly like min/max, so
    the shuffle carries six scalars per day regardless of volume."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
    ).withColumn("ok", F.expr(_OHLC_KEY))
    return p.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.min_by("v", "ok").cast("double").alias("open"),
        F.max("v").cast("double").alias("high"),
        F.min("v").cast("double").alias("low"),
        F.max_by("v", "ok").cast("double").alias("close"),
        F.sum("v").cast("double").alias("volume"),
    )


# q188 CUPED machinery. The pre/post boundary reuses q164's snapshot
# instant; per-user (x, y) spends are decimal(18,6)-exact and convert
# to double EXACTLY (value·10^6 << 2^53), so the five pooled moments
# are sums of snapped per-user terms (q135 convention) and the
# theta/rho² chains below are ONE shared double formula per value.
_CUPED_CUTOFF_US = 1_705_363_200_000_000
_CUPED_THETA = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_CUPED_RHO2 = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)
_CUPED_ADJ = (
    "ROUND(CAST(syg AS DOUBLE) / ng - ({theta})"
    " * (CAST(sxg AS DOUBLE) / ng"
    " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)"
)


def q188_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout: post-period spend per user
    adjusted by the pre-period covariate (Y − θ(X − X̄), θ =
    cov(X,Y)/var(X) pooled) for q153's deterministic user_id % 2
    arms — the standard experimentation trick that removes the
    between-user variance a raw mean comparison wastes power on; ρ²
    (the achieved variance-reduction fraction) rides along. Since
    assignment is a hash of user_id, the two arms' ADJUSTED means
    should differ less than their raw means — that contraction is
    the operator's observable effect.

    Scale shape: the log collapses to one (x, y) row per user in a
    single partial agg; the five pooled moments and both per-arm sums
    are ONE aggregate each over that frame; everything after is
    scalar math on a broadcast 1-row frame."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.unix_micros("ts") <= _CUPED_CUTOFF_US),
                F.col("value"),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        ).alias("x"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.unix_micros("ts") > _CUPED_CUTOFF_US),
                F.col("value"),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        ).alias("y"),
    ).select(
        (F.col("user_id") % 2).alias("grp"),
        F.col("x").cast("double").alias("xd"),
        F.col("y").cast("double").alias("yd"),
    )
    terms = per.select(
        "grp",
        "xd",
        "yd",
        F.expr("CAST(ROUND(xd * yd, 9) AS DECIMAL(28,9))").alias("txy"),
        F.expr("CAST(ROUND(xd * xd, 9) AS DECIMAL(28,9))").alias("txx"),
        F.expr("CAST(ROUND(yd * yd, 9) AS DECIMAL(28,9))").alias("tyy"),
        F.expr("CAST(xd AS DECIMAL(18,6))").alias("tx"),
        F.expr("CAST(yd AS DECIMAL(18,6))").alias("ty"),
    )
    pooled = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("tx").alias("sx"),
        F.sum("ty").alias("sy"),
        F.sum("txy").alias("sxy"),
        F.sum("txx").alias("sxx"),
        F.sum("tyy").alias("syy"),
    )
    arms = terms.groupBy("grp").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("tx").alias("sxg"),
        F.sum("ty").alias("syg"),
    )
    return arms.crossJoin(F.broadcast(pooled)).select(
        "grp",
        F.col("ng").alias("n_users"),
        F.round(F.col("syg").cast("double") / F.col("ng"), 6).alias(
            "mean_y"
        ),
        F.round(F.col("sxg").cast("double") / F.col("ng"), 6).alias(
            "mean_x"
        ),
        F.expr(_CUPED_ADJ.format(theta=_CUPED_THETA)).alias(
            "mean_y_adj"
        ),
        F.expr(f"ROUND({_CUPED_THETA}, 6)").alias("theta"),
        F.expr(f"ROUND({_CUPED_RHO2}, 6)").alias("rho2"),
    )


def q179_rolling_active_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 7-day active users per calendar day (WAU) alongside
    that day's DAU and the DAU/WAU stickiness ratio — the standard
    engagement health metrics. Sliding COUNT(DISTINCT) doesn't exist
    as a window function in EITHER engine (distinct state can't
    merge), so the rewrite IS the operator: each distinct
    (user, active day) pair CONTRIBUTES to the 7 calendar days it
    covers (one row-local explode of a 7-day sequence), and WAU is a
    plain count-distinct per contributed day — linear in pairs, never
    a per-day re-scan, and the window length is a plan constant.

    Scale shape: one (user, day) dedup shuffle over the log, a ×7
    row-local explode of the DAY-sized pair frame, one day-keyed
    count-distinct; the calendar join trims warm-up days and keeps
    event-free days (WAU can be nonzero on a day with no events)."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.select(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).distinct()
    span = pu.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    contrib = pu.select(
        "user_id",
        F.explode_outer(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), 6),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("wday"),
    ).filter(F.col("wday").isNotNull())
    wau = contrib.groupBy(F.col("wday").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = pu.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        cal.join(wau, "day", "left")
        .join(dau, "day", "left")
        .select(
            "day",
            F.coalesce("wau", F.lit(0)).alias("wau"),
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.when(
                F.coalesce("wau", F.lit(0)) > 0,
                F.round(
                    F.coalesce("dau", F.lit(0)).cast("double")
                    / F.col("wau"),
                    6,
                ),
            ).alias("stickiness"),
        )
    )


def q193_srm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) audit for the q153 experiment: per
    exposure day, do the two arms (user_id % 2 — q153's stated 50/50
    assignment) receive event traffic in the expected ratio? SRM is
    the first thing a trustworthy experimentation platform checks —
    a significant daily imbalance means broken randomization or
    differential logging loss, and every downstream readout (q153's z,
    q188's CUPED lift) is void that day. Chi-square for a 50/50 split
    collapses to (a−b)²/(a+b); the flag is the p<0.001 gate (χ²₁ >
    10.828), tested multiplied-through in exact integers —
    1000·(a−b)² > 10828·(a+b) — so no float enters the verdict.

    Scale shape: the event log collapses to the (day × 2 arms) grid in
    ONE partial-agg shuffle (conditional sums, calendar-bounded frame);
    the χ² value itself is the only division (exact ints, ROUND 6)."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            (F.col("user_id") % 2).alias("arm"),
        )
        .groupBy("day")
        .agg(
            F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
            F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
        )
    )
    diff2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    tot = F.col("n_a") + F.col("n_b")
    return g.select(
        "day",
        "n_a",
        "n_b",
        F.round(diff2.cast("double") / tot, 6).alias("chi2"),
        (diff2 * 1000 > tot * 10828).alias("srm_flag"),
    )


# Cochran–Armitage trend statistic from the five exact integer sums
# (N, R, S1=Σw·conv, S2=Σw, S3=Σw²): z² = (N·S1 − R·S2)²·N /
# (R·(N−R)·(N·S3 − S2²)). One shared SQL string per output (identical
# IEEE expression tree both engines); sqrt is IEEE-exact. Guarded for
# degenerate designs (all/none converted, zero weight variance).
_CA_GUARD = "r > 0 AND r < n AND n * s3 - s2 * s2 > 0"
_CA_T = (
    "(CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " - CAST(r AS DOUBLE) * CAST(s2 AS DOUBLE))"
)
_CA_DEN = (
    "(CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE)"
    " * (CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)"
    "    - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)))"
)
_CA_Z = (
    f"CASE WHEN {_CA_GUARD} THEN"
    f" ROUND({_CA_T} * sqrt(CAST(n AS DOUBLE) / {_CA_DEN}), 6)"
    " ELSE NULL END"
)
_CA_CHI2 = (
    f"CASE WHEN {_CA_GUARD} THEN"
    f" ROUND({_CA_T} * {_CA_T} * CAST(n AS DOUBLE) / {_CA_DEN}, 6)"
    " ELSE NULL END"
)


def q198_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for trend: does q153's conversion outcome
    rise (or fall) monotonically across FOUR ordered exposure arms
    (dose = user_id % 4, scores w = 0..3)? The dose–response readout
    an experimentation platform needs when a treatment has graded
    intensities — a plain 4-arm chi-square ignores the ordering and
    wastes power; the trend test is the standard answer. Outcome and
    assignment reuse q153's stated deterministic design (above-mean
    purchase spend; modulo bucketing — the q39 no-RNG discipline).
    Output: one row — N, conversions, the integer trend numerator
    N·S1−R·S2, the signed z, χ² = z², and the p<0.001 verdict tested
    multiplied-through in exact integers (χ²₁ > 10.828 ⇔
    1000·T²·N > 10828·R·(N−R)·(N·S3−S2²) — the q193 no-float gate;
    decimal(38,0)/HUGEINT products, exact to ~10⁶-user frames per
    arm and beyond).

    Scale shape: spend collapses to one row per user in a single
    partial agg; the five trend sums are conditional sums in ONE
    aggregate over that frame (no per-dose grouping needed — w and w²
    fold directly); everything after is scalar math on a single row."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        ).alias("s")
    )
    tot = per_user.agg(
        F.sum("s").alias("total"), F.count(F.lit(1)).alias("n_users")
    )
    flagged = per_user.crossJoin(F.broadcast(tot)).select(
        (F.col("user_id") % 4).alias("w"),
        (F.col("s") * F.col("n_users") > F.col("total"))
        .cast("long")
        .alias("conv"),
    )
    one = flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("r"),
        F.sum(F.col("w") * F.col("conv")).alias("s1"),
        F.sum("w").alias("s2"),
        F.sum(F.col("w") * F.col("w")).alias("s3"),
    )
    return one.select(
        F.col("n").alias("n_users"),
        F.col("r").alias("n_conv"),
        (F.col("n") * F.col("s1") - F.col("r") * F.col("s2")).alias(
            "t_num"
        ),
        F.expr(_CA_Z).alias("z"),
        F.expr(_CA_CHI2).alias("chi2"),
        F.expr(
            "1000 * CAST(n * s1 - r * s2 AS DECIMAL(20,0))"
            " * CAST(n * s1 - r * s2 AS DECIMAL(20,0))"
            " * CAST(n AS DECIMAL(20,0))"
            " > 10828 * CAST(r AS DECIMAL(20,0))"
            " * CAST(n - r AS DECIMAL(20,0))"
            " * (CAST(n AS DECIMAL(20,0)) * CAST(s3 AS DECIMAL(20,0))"
            "    - CAST(s2 AS DECIMAL(20,0)) * CAST(s2 AS DECIMAL(20,0)))"
        ).alias("trend_flag"),
    )


# Dispersion (variance-to-mean) chains from the three exact integer
# sums over ALL users including zero-count ones (n users, sx events,
# sx2 squared counts): variance = (n·sx2 − sx²)/(n(n−1)), index
# D = variance/mean = (n·sx2 − sx²)/((n−1)·sx). Shared SQL strings.
_DISP_VAR = (
    "ROUND((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6)"
)
_DISP_D = (
    "CASE WHEN sx > 0 THEN"
    " ROUND((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " / (CAST(n - 1 AS DOUBLE) * CAST(sx AS DOUBLE)), 6)"
    " ELSE NULL END"
)


def q208_dispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type overdispersion audit of user activity counts:
    is each event type's per-user count distribution Poisson-like
    (dispersion ≈ 1) or burst-dominated (D ≫ 1 — a few users generate
    most of the traffic, so per-user rate models and q153-style
    averages are fragile)? The count-data QC every behavioral metric
    should pass before anyone models "events per user". Users with
    ZERO events of a type are included (dropping them biases D up) by
    counting over the full user universe. Output: one row per event
    type — user count, event total, mean, variance, dispersion index,
    and the D > 1.5 verdict tested in exact integers
    ((n·sx2 − sx²)·10 > 15·(n−1)·sx — the q193 no-float gate).

    Scale shape: one (event_type, user) partial-agg shuffle collapses
    the log; per-type sums aggregate that frame (zero-count users fold
    in algebraically — they add nothing to sx/sx2 and the universe
    size is ONE broadcast scalar, so no explicit zero rows are ever
    materialized)."""
    ev = load_table(spark, sf_dir, "events")
    ux = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("x")
    )
    per_type = ux.groupBy("event_type").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    users = ev.agg(F.countDistinct("user_id").alias("n"))
    g = per_type.crossJoin(F.broadcast(users))
    return g.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.col("sx").alias("n_events"),
        F.expr(
            "ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        ).alias("mean"),
        F.expr(_DISP_VAR).alias("variance"),
        F.expr(_DISP_D).alias("dispersion"),
        F.expr(
            "(n * sx2 - sx * sx) * 10 > 15 * (n - 1) * sx"
        ).alias("overdispersed"),
    )


def q210_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: for each acquisition cohort (first-seen day)
    and cohort age, the CUMULATIVE purchase revenue and its per-user
    value — the revenue companion to q98's retention counts, and the
    curve every growth model fits ("how much is a day-N user worth?").
    Revenue accumulates in exact DECIMAL(18,2) cents; the step
    function is defined on observed (cohort, age) cells. Output: one
    row per cohort × age with cohort size, cumulative revenue, LTV.

    Scale shape: first-seen days are one user-keyed partial agg; the
    cohort join is a user_id equi-join; the cumulation window
    partitions by cohort and orders by the CALENDAR-bounded age (the
    q194 precedent — offsets cannot outnumber days in the retention
    horizon, so no unbounded window partition exists)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(F.lit(0.0))
        .cast("decimal(18,2)")
        .alias("rev"),
    )
    first = base.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    g = (
        base.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
            "rev",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.sum("rev").alias("rev_d"))
    )
    w = Window.partitionBy("cohort_day").orderBy("day_offset")
    r = g.withColumn("cum", F.sum("rev_d").over(w)).join(
        F.broadcast(sizes), "cohort_day"
    )
    return r.select(
        "cohort_day",
        "day_offset",
        "n_users",
        F.col("cum").cast("double").alias("cum_revenue"),
        F.expr(
            "ROUND(CAST(cum AS DOUBLE) / CAST(n_users AS DOUBLE), 6)"
        ).alias("ltv"),
    )


def q213_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction baseline and its in-sample accuracy: the
    argmax-of-q139's-transition-matrix predictor ("after a view, the
    most likely next event is …"), scored against the log it was
    fitted on — the sanity baseline every sequence model must beat,
    and the drift alarm when a deploy changes what follows what.
    Prediction ties break (count DESC, to_type ASC), so the model is
    deterministic on both engines. Output: one row per from_type —
    transition count, predicted next, hit count, accuracy.

    Scale shape: consecutive pairs are q139's per-user narrow window;
    everything after aggregates the ≤|types|² cell matrix (the model
    argmax is a window over ≤25 rows; the scoring join is pairs-frame
    × broadcast model)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wm = Window.partitionBy("from_type").orderBy(
        F.col("n").desc(), F.col("to_type")
    )
    model = (
        pairs.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("from_type", F.col("to_type").alias("predicted_next"))
    )
    scored = pairs.join(F.broadcast(model), "from_type")
    return scored.groupBy("from_type", "predicted_next").agg(
        F.sum("n").alias("n_transitions"),
        F.sum(
            F.when(F.col("to_type") == F.col("predicted_next"), F.col("n"))
            .otherwise(F.lit(0))
        ).alias("n_correct"),
    ).select(
        "from_type",
        "predicted_next",
        "n_transitions",
        "n_correct",
        F.expr(
            "ROUND(CAST(n_correct AS DOUBLE)"
            " / CAST(n_transitions AS DOUBLE), 6)"
        ).alias("accuracy"),
    )


# q214's method-of-moments beta prior from the K per-source proportions
# (each snapped to DECIMAL(18,9) so the cross-source sums are exact):
# m = Σp/K, v = Σp²/K − m², α+β = m(1−m)/v − 1. One shared double
# chain; the CASE guards degenerate designs (v ≤ 0 → no shrinkage
# possible → prior weight 0).
_EB_M = "(CAST(sp AS DOUBLE) / CAST(kk AS DOUBLE))"
_EB_V = (
    f"(CAST(sp2 AS DOUBLE) / CAST(kk AS DOUBLE) - {_EB_M} * {_EB_M})"
)
_EB_W = (  # prior strength alpha+beta
    f"CASE WHEN {_EB_V} > 0 AND {_EB_M} > 0 AND {_EB_M} < 1"
    f" THEN GREATEST({_EB_M} * (1 - {_EB_M}) / {_EB_V} - 1,"
    " CAST(0 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END"
)


def q214_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source English rates: fit a
    beta prior to the K observed source proportions by method of
    moments, then shrink each source's raw rate toward the pooled mean
    with strength inverse to its sample size — the standard fix for
    "this 12-doc source is 100% English" leaderboard artifacts that
    raw per-group rates produce (small feeds get pulled to the prior,
    big feeds keep their evidence). Output: one row per source — n,
    successes, raw rate, prior mean, prior strength, shrunk rate.

    Exactness: each proportion is snapped to DECIMAL(18,9) before the
    cross-source moment sums (q124 convention), so m and v derive from
    exact decimals; the α+β and shrinkage chains are ONE shared SQL
    string per column. Scale shape: docs collapse to one row per
    source in a single partial agg; the prior is a broadcast 1-row
    scalar; shrinkage is row-local arithmetic on the source frame."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lang") == "en").cast("long")).alias("x"),
    ).withColumn(
        "p",
        F.expr(
            "CAST(ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9)"
            " AS DECIMAL(18,9))"
        ),
    )
    stats = per_src.agg(
        F.count(F.lit(1)).alias("kk"),
        F.sum("p").alias("sp"),
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(p AS DOUBLE) * CAST(p AS DOUBLE), 9)"
                " AS DECIMAL(18,9))"
            )
        ).alias("sp2"),
    )
    g = per_src.crossJoin(F.broadcast(stats))
    return g.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("x").alias("n_en"),
        F.expr(
            "ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        ).alias("raw_rate"),
        F.expr(f"ROUND({_EB_M}, 6)").alias("prior_mean"),
        F.expr(f"ROUND({_EB_W}, 6)").alias("prior_strength"),
        F.expr(
            f"ROUND((CAST(x AS DOUBLE) + {_EB_W} * {_EB_M})"
            f" / (CAST(n AS DOUBLE) + {_EB_W}), 6)"
        ).alias("shrunk_rate"),
    )


def q216_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit for the q153 experiment: does the
    pooled A-vs-B conversion direction agree with the per-stratum
    directions (strata = (user_id DIV 2) % 3 — independent of the
    user_id % 2 arm by construction)? Aggregation reversal is THE
    classic way a pooled experiment readout lies when assignment is
    imbalanced across strata; a trustworthy platform checks it before
    shipping the pooled number. All direction comparisons are SIGNS
    of exact integer cross-products (xa·nb − xb·na — never a rate
    division), so the verdict is float-free. Output: one row — pooled
    sizes/conversions/rates, pooled direction, stratum agreement
    counts, and the full-reversal paradox flag.

    Scale shape: users collapse to one row per (stratum, arm) in one
    partial agg over the q153 per-user conversion frame; the pooled
    scalar broadcasts back onto the ≤3-row stratum frame."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        ).alias("s")
    )
    tot = per_user.agg(
        F.sum("s").alias("total"), F.count(F.lit(1)).alias("n_users")
    )
    flagged = per_user.crossJoin(F.broadcast(tot)).select(
        F.expr("user_id DIV 2 % 3").alias("stratum"),
        (F.col("user_id") % 2).alias("arm"),
        (F.col("s") * F.col("n_users") > F.col("total"))
        .cast("long")
        .alias("conv"),
    )
    strata = flagged.groupBy("stratum").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "xa"
        ),
        F.sum((F.col("arm") == 1).cast("long")).alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "xb"
        ),
    )
    pooled = strata.agg(
        F.sum("na").alias("pna"),
        F.sum("xa").alias("pxa"),
        F.sum("nb").alias("pnb"),
        F.sum("xb").alias("pxb"),
    ).withColumn(
        "pooled_dir",
        F.expr("CAST(sign(pxa * pnb - pxb * pna) AS INT)"),
    )
    j = strata.crossJoin(F.broadcast(pooled)).withColumn(
        "sdir", F.expr("CAST(sign(xa * nb - xb * na) AS INT)")
    )
    return j.groupBy(
        "pna", "pxa", "pnb", "pxb", "pooled_dir"
    ).agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(
            ((F.col("sdir") == F.col("pooled_dir")) & (F.col("sdir") != 0))
            .cast("long")
        ).alias("n_same"),
        F.sum(
            ((F.col("sdir") == -F.col("pooled_dir")) & (F.col("sdir") != 0))
            .cast("long")
        ).alias("n_opposite"),
    ).select(
        F.col("pna").alias("n_a"),
        F.col("pxa").alias("x_a"),
        F.col("pnb").alias("n_b"),
        F.col("pxb").alias("x_b"),
        F.expr(
            "ROUND(CAST(pxa AS DOUBLE) / CAST(pna AS DOUBLE), 6)"
        ).alias("rate_a"),
        F.expr(
            "ROUND(CAST(pxb AS DOUBLE) / CAST(pnb AS DOUBLE), 6)"
        ).alias("rate_b"),
        "pooled_dir",
        "n_strata",
        "n_same",
        "n_opposite",
        (
            (F.col("pooled_dir") != 0)
            & (F.col("n_opposite") == F.col("n_strata"))
        ).alias("paradox"),
    )


def q221_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: per session-start day, the share of sessions
    containing exactly ONE event — the engagement-quality headline
    every product dashboard pairs with q98's retention. Composes on
    q31's sessionization verbatim (same 4 h gap, same tiebreaks), so
    the session universe here is the hash-certified one. Output: one
    row per day — sessions, bounces, bounce rate.

    Scale shape: q31's per-user session pass (user-keyed window over
    narrow rows), then one calendar-sized partial agg; the rate is one
    division of exact counts."""
    from .analytics import q31_sessionize

    sess = q31_sessionize(spark, sf_dir)
    g = (
        sess.select(
            F.date_trunc("day", "session_start").cast("date").alias("day"),
            (F.col("n_events") == 1).cast("long").alias("bounce"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("bounce").alias("n_bounces"),
        )
    )
    return g.select(
        "day",
        "n_sessions",
        "n_bounces",
        F.expr(
            "ROUND(CAST(n_bounces AS DOUBLE)"
            " / CAST(n_sessions AS DOUBLE), 6)"
        ).alias("bounce_rate"),
    )


# q226's Goh–Barabási burstiness from two exact integer sums over the
# microsecond gaps: with population σ = sqrt(n·Σg² − (Σg)²)/n and
# μ = Σg/n, B = (σ−μ)/(σ+μ) collapses to ONE IEEE-exact sqrt of an
# exact integer — (sqrt(n·Σg²−(Σg)²) − Σg)/(sqrt(n·Σg²−(Σg)²) + Σg).
_BURST_S = (
    "sqrt(CAST(n AS DOUBLE) * CAST(sg2 AS DOUBLE)"
    " - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))"
)
_BURST = (
    f"CASE WHEN n >= 2 AND sg > 0 THEN"
    f" ROUND(({_BURST_S} - CAST(sg AS DOUBLE))"
    f" / ({_BURST_S} + CAST(sg AS DOUBLE)), 6) ELSE NULL END"
)


def q226_gap_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness per event type (Goh & Barabási's
    B = (σ−μ)/(σ+μ) over per-user gap times): B → −1 is a metronome
    (cron traffic pretending to be users), B ≈ 0 is Poisson, B → 1 is
    heavy-tailed bursts (sessions + silence — real humans). The
    temporal twin of q208's count dispersion, and the statistic that
    decides whether q145's watermark can assume near-Poisson arrival.
    Output: one row per event type — gap count, mean gap (s), B.

    Exactness: gaps are exact integer microseconds (q134 convention);
    Σg and Σg² are exact (g² through DECIMAL(20,0)² = 38 digits);
    B needs exactly ONE sqrt of an exact integer, IEEE-exact on both
    engines. Scale shape: one (type,user)-keyed window over narrow
    rows, then one partial agg onto the ≤|types| frame."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    gaps = (
        ev.select("event_type", "user_id", "ts", "event_id")
        .withColumn("nxt", F.lead("ts").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "event_type",
            (F.unix_micros("nxt") - F.unix_micros("ts")).alias("g"),
        )
    )
    g = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("sg"),
        F.sum(
            F.col("g").cast("decimal(20,0)")
            * F.col("g").cast("decimal(20,0)")
        ).alias("sg2"),
    )
    return g.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.expr(
            "ROUND(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) / 1000000, 6)"
        ).alias("mean_gap_s"),
        F.expr(_BURST).alias("burstiness"),
    )


def q258_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness privacy audit — the third leg of the disclosure-
    control suite (q158 k-anonymity, q207 l-diversity): for each
    quasi-identifier group (source), the Earth Mover's Distance
    between its sensitive-attribute distribution (length bucket,
    n_chars DIV 64 — an ORDERED attribute, so EMD is the mean absolute
    cumulative gap) and the global distribution. A group with small
    count but EMD ~ 0 leaks nothing; a k-anonymous group whose length
    profile diverges from global still fingerprints its members —
    which is exactly what k and l miss.

    Exactness: EMD = (1/(m-1))·Σ_k |P̂_k − Q̂_k| stays RATIONAL until
    the end — |a_k·N − b_k·n_g| sums as exact BIGINT (the q127 KS
    cross-multiplication trick) and one shared division produces the
    t value. Scale: one partial-agg shuffle to (source × bucket)
    cells, cumulative windows over the bounded bucket domain, a
    per-source reduce."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") / 64).cast("bigint").alias("b")
    )
    cells = d.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    # dense (source × bucket) grid: every source needs a cumulative
    # value at every bucket, else missing cells skip cumulative gaps
    buckets = cells.select("b").distinct()
    srcs = cells.groupBy("source").agg(F.sum("c").alias("n_g"))
    dense = (
        srcs.crossJoin(F.broadcast(buckets))
        .join(cells, ["source", "b"], "left")
        .fillna(0, subset=["c"])
    )
    wg = Window.partitionBy("source").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    grp = dense.select(
        "source", "n_g", "b", F.sum("c").over(wg).alias("a_cum")
    )
    glob_cells = cells.groupBy("b").agg(F.sum("c").alias("gc"))
    wq = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    glob = glob_cells.select(
        "b", F.sum("gc").over(wq).alias("b_cum")
    ).crossJoin(
        F.broadcast(cells.agg(F.sum("c").alias("nn")))
    )
    j = grp.join(F.broadcast(glob), "b")
    per_src = j.groupBy("source", "n_g", "nn").agg(
        F.sum(
            F.abs(F.col("a_cum") * F.col("nn") - F.col("b_cum") * F.col("n_g"))
        ).alias("gap_x"),
        F.count(F.lit(1)).alias("m"),
    )
    return per_src.select(
        "source",
        F.col("n_g").cast("bigint").alias("n_docs"),
        F.col("gap_x").cast("bigint").alias("gap_x"),
        F.expr(
            "ROUND(CAST(gap_x AS DOUBLE)"
            " / ((CAST(m AS DOUBLE) - 1) * CAST(n_g AS DOUBLE)"
            "    * CAST(nn AS DOUBLE)), 9)"
        ).alias("t_emd"),
    )


# q291 models q218's stream-stream interval join (clicks = even
# event_id, purchases = odd, purchase in [click_ts, click_ts + 1 h],
# 2 h watermark delay on both sides —
# plans/streaming_queries.py::_drain_sentinel_interval_join).
# State lifetime per side follows the engine's eviction rule: a CLICK
# is evictable once the purchase watermark passes the end of its match
# window (click_ts + 1 h interval + 2 h delay = 3 h); a PURCHASE once
# the click watermark passes its own ts (no look-ahead: it only
# matches clicks at or before it, so 0 h interval + 2 h delay = 2 h).
_SB_SHARDS = 32
_SB_LIFE_US = {"click": 3 * 3_600_000_000, "purchase": 2 * 3_600_000_000}


def q291_stream_state_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-join STATE-BUDGET planner: for q218's click→purchase
    stream-stream join, the peak number of rows each side would hold
    in the state store, per key-hash shard — the table an engineer
    reads to size executor memory BEFORE launching the stream.
    BENCH_SCALE_r10.json measured why this planner must exist: q218's
    peak state grew 100k → 1M rows at 10× events (stream-stream join
    state is bounded by the WATERMARK WINDOW, so it scales with rows
    per window, i.e. with throughput — unlike q285/q266's key-bounded
    state, which stayed flat). The q145 watermark planner prices the
    DROP side of a delay choice; this prices the MEMORY side.

    Method: sweep-line over state lifetimes (the q184 peak-concurrency
    pattern applied to eviction semantics). Each event contributes
    (+1 at ts, −1 at ts + lifetime); a running sum ordered by time
    (arrivals before evictions on ties — the conservative peak) gives
    instantaneous state occupancy; MAX per (side, shard) is the
    budget. Shard = user_id % 32 models the join-key hash partition,
    so shard imbalance here IS the executor imbalance a real cluster
    would see on this key distribution.

    Scale shape: one narrow union doubling the rows, one shuffle by
    (side, shard) for the window sort — each shard sorts
    independently, so 1000 executors sort 1000 ways in parallel —
    then a partial-agg MAX onto 64 rows. Never a self-join, never a
    range probe per event.

    Model validation: tests/test_round10_queries.py::
    test_interval_join_state_model_matches_engine replays time-ordered
    micro-batches through the REAL q218 join and asserts the engine's
    per-batch numRowsTotal brackets this exact occupancy model — never
    below it (no premature eviction), at most a small conservative
    boundary margin above — so the budget this planner prints is a
    floor the engine respects, not just oracle-checked arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.lit("click"))
        .otherwise(F.lit("purchase"))
        .alias("side"),
        (F.col("user_id") % F.lit(_SB_SHARDS)).alias("shard"),
        F.unix_micros(F.col("ts")).alias("t_us"),
    ).withColumn(
        "life_us",
        F.when(
            F.col("side") == "click", F.lit(_SB_LIFE_US["click"])
        ).otherwise(F.lit(_SB_LIFE_US["purchase"])),
    )
    pts = base.select(
        "side", "shard", F.col("t_us").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        base.select(
            "side",
            "shard",
            (F.col("t_us") + F.col("life_us")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("side", "shard")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select(
        "side", "shard", "delta", F.sum("delta").over(w).alias("in_state")
    )
    return run.groupBy("side", "shard").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_events"),
        F.max("in_state").cast("bigint").alias("peak_state_rows"),
    )


QUERIES = {
    "q97_funnel_depth": q97_funnel_depth,
    "q258_t_closeness": q258_t_closeness,
    "q198_trend_test": q198_trend_test,
    "q208_dispersion_audit": q208_dispersion_audit,
    "q226_gap_burstiness": q226_gap_burstiness,
    "q210_cohort_ltv": q210_cohort_ltv,
    "q213_next_event_accuracy": q213_next_event_accuracy,
    "q214_eb_shrinkage": q214_eb_shrinkage,
    "q216_simpson_audit": q216_simpson_audit,
    "q221_bounce_rate": q221_bounce_rate,
    "q193_srm_audit": q193_srm_audit,
    "q98_retention_cohorts": q98_retention_cohorts,
    "q99_heavy_hitters": q99_heavy_hitters,
    "q113_disorder_audit": q113_disorder_audit,
    "q117_anomaly_zscore": q117_anomaly_zscore,
    "q130_touch_attribution": q130_touch_attribution,
    "q134_time_to_convert": q134_time_to_convert,
    "q139_event_transitions": q139_event_transitions,
    "q145_watermark_planner": q145_watermark_planner,
    "q146_sequence_match": q146_sequence_match,
    "q153_ab_test": q153_ab_test,
    "q159_kaplan_meier": q159_kaplan_meier,
    "q162_decayed_engagement": q162_decayed_engagement,
    "q179_rolling_active_users": q179_rolling_active_users,
    "q181_daily_ohlc": q181_daily_ohlc,
    "q183_conversion_paths": q183_conversion_paths,
    "q188_cuped_lift": q188_cuped_lift,
    "q291_stream_state_budget": q291_stream_state_budget,
}

ORACLE = {
    "q291_stream_state_budget": """
        WITH base AS (
            SELECT CASE WHEN event_id % 2 = 0 THEN 'click'
                        ELSE 'purchase' END AS side,
                   user_id % 32 AS shard,
                   epoch_us(ts) AS t_us,
                   CASE WHEN event_id % 2 = 0 THEN 10800000000
                        ELSE 7200000000 END AS life_us
            FROM events),
        pts AS (
            SELECT side, shard, t_us AS t, 1 AS delta FROM base
            UNION ALL
            SELECT side, shard, t_us + life_us AS t, -1 AS delta FROM base),
        run AS (
            SELECT side, shard, delta,
                   SUM(delta) OVER (PARTITION BY side, shard
                                    ORDER BY t, delta DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS in_state
            FROM pts)
        SELECT side, shard,
               CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_events,
               CAST(MAX(in_state) AS BIGINT) AS peak_state_rows
        FROM run
        GROUP BY side, shard
    """,
    "q258_t_closeness": """
        WITH d AS (SELECT source, n_chars // 64 AS b FROM documents),
        cells AS (SELECT source, b, COUNT(*) AS c FROM d GROUP BY 1, 2),
        buckets AS (SELECT DISTINCT b FROM cells),
        srcs AS (SELECT source, SUM(c) AS n_g FROM cells GROUP BY 1),
        dense AS (
            SELECT srcs.source, srcs.n_g, buckets.b, COALESCE(c, 0) AS c
            FROM srcs CROSS JOIN buckets
            LEFT JOIN cells ON cells.source = srcs.source
                           AND cells.b = buckets.b),
        grp AS (
            SELECT source, n_g, b,
                   SUM(c) OVER (PARTITION BY source ORDER BY b
                       ROWS UNBOUNDED PRECEDING) AS a_cum
            FROM dense),
        gl AS (
            SELECT b, SUM(gc) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                       AS b_cum,
                   (SELECT SUM(c) FROM cells) AS nn
            FROM (SELECT b, SUM(c) AS gc FROM cells GROUP BY 1)),
        per_src AS (
            SELECT source, n_g, nn,
                   CAST(SUM(ABS(a_cum * nn - b_cum * n_g)) AS BIGINT)
                       AS gap_x,
                   COUNT(*) AS m
            FROM grp JOIN gl USING (b)
            GROUP BY source, n_g, nn)
        SELECT source, CAST(n_g AS BIGINT) AS n_docs, gap_x,
               ROUND(CAST(gap_x AS DOUBLE)
                     / ((CAST(m AS DOUBLE) - 1) * CAST(n_g AS DOUBLE)
                        * CAST(nn AS DOUBLE)), 9) AS t_emd
        FROM per_src
    """,
    "q226_gap_burstiness": f"""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(LEAD(ts) OVER (PARTITION BY event_type,
                                           user_id
                                           ORDER BY ts, event_id))
                   - epoch_us(ts) AS g
            FROM events),
        g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(g) AS BIGINT) AS sg,
                   SUM(CAST(g AS DECIMAL(20,0))
                       * CAST(g AS DECIMAL(20,0))) AS sg2
            FROM gaps WHERE g IS NOT NULL
            GROUP BY event_type)
        SELECT event_type,
               n AS n_gaps,
               ROUND(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) / 1000000, 6)
                   AS mean_gap_s,
               {_BURST} AS burstiness
        FROM g
    """,
    "q221_bounce_rate": """
        WITH marked AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > 14400000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
            SELECT user_id, ts,
                   CAST(SUM(new_s) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS session_idx
            FROM marked),
        sess AS (
            SELECT user_id, session_idx,
                   COUNT(*) AS n_events,
                   MIN(ts) AS session_start
            FROM numbered GROUP BY user_id, session_idx),
        g AS (
            SELECT CAST(date_trunc('day', session_start) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_bounces
            FROM sess GROUP BY 1)
        SELECT day, n_sessions, n_bounces,
               ROUND(CAST(n_bounces AS DOUBLE)
                     / CAST(n_sessions AS DOUBLE), 6) AS bounce_rate
        FROM g
    """,
    "q216_simpson_audit": """
        WITH per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN value ELSE 0 END)
                        AS DECIMAL(18,6)) AS s
            FROM events GROUP BY user_id),
        tot AS (
            SELECT SUM(s) AS total, COUNT(*) AS n_users FROM per_user),
        flagged AS (
            SELECT CAST(user_id // 2 % 3 AS BIGINT) AS stratum,
                   user_id % 2 AS arm,
                   CASE WHEN s * n_users > total THEN 1 ELSE 0 END AS conv
            FROM per_user, tot),
        strata AS (
            SELECT stratum,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS na,
                   CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END)
                        AS BIGINT) AS xa,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS nb,
                   CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END)
                        AS BIGINT) AS xb
            FROM flagged GROUP BY stratum),
        pooled AS (
            SELECT CAST(SUM(na) AS BIGINT) AS pna,
                   CAST(SUM(xa) AS BIGINT) AS pxa,
                   CAST(SUM(nb) AS BIGINT) AS pnb,
                   CAST(SUM(xb) AS BIGINT) AS pxb,
                   CAST(sign(SUM(xa) * SUM(nb) - SUM(xb) * SUM(na))
                        AS INT) AS pooled_dir
            FROM strata),
        j AS (
            SELECT s.*, p.*,
                   CAST(sign(s.xa * s.nb - s.xb * s.na) AS INT) AS sdir
            FROM strata s, pooled p)
        SELECT pna AS n_a, pxa AS x_a, pnb AS n_b, pxb AS x_b,
               ROUND(CAST(pxa AS DOUBLE) / CAST(pna AS DOUBLE), 6)
                   AS rate_a,
               ROUND(CAST(pxb AS DOUBLE) / CAST(pnb AS DOUBLE), 6)
                   AS rate_b,
               pooled_dir,
               CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(CASE WHEN sdir = pooled_dir AND sdir <> 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
               CAST(SUM(CASE WHEN sdir = -pooled_dir AND sdir <> 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_opposite,
               pooled_dir <> 0
                   AND SUM(CASE WHEN sdir = -pooled_dir AND sdir <> 0
                                THEN 1 ELSE 0 END) = COUNT(*) AS paradox
        FROM j
        GROUP BY pna, pxa, pnb, pxb, pooled_dir
    """,
    "q213_next_event_accuracy": """
        WITH pairs AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT event_type AS from_type,
                       LEAD(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                           AS to_type
                FROM events) t
            WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type),
        model AS (
            SELECT from_type, to_type AS predicted_next
            FROM (
                SELECT from_type, to_type,
                       ROW_NUMBER() OVER (PARTITION BY from_type
                                          ORDER BY n DESC, to_type) AS rn
                FROM pairs) m
            WHERE rn = 1)
        SELECT p.from_type,
               mo.predicted_next,
               CAST(SUM(p.n) AS BIGINT) AS n_transitions,
               CAST(SUM(CASE WHEN p.to_type = mo.predicted_next
                             THEN p.n ELSE 0 END) AS BIGINT) AS n_correct,
               ROUND(CAST(SUM(CASE WHEN p.to_type = mo.predicted_next
                                   THEN p.n ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(p.n) AS DOUBLE), 6) AS accuracy
        FROM pairs p JOIN model mo ON mo.from_type = p.from_type
        GROUP BY p.from_type, mo.predicted_next
    """,
    "q214_eb_shrinkage": f"""
        WITH per_src AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x
            FROM documents GROUP BY source),
        withp AS (
            SELECT source, n, x,
                   CAST(ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9)
                        AS DECIMAL(18,9)) AS p
            FROM per_src),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS kk,
                   SUM(p) AS sp,
                   SUM(CAST(ROUND(CAST(p AS DOUBLE) * CAST(p AS DOUBLE),
                                  9) AS DECIMAL(18,9))) AS sp2
            FROM withp)
        SELECT source,
               n AS n_docs,
               x AS n_en,
               ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
               ROUND({_EB_M}, 6) AS prior_mean,
               ROUND({_EB_W}, 6) AS prior_strength,
               ROUND((CAST(x AS DOUBLE) + {_EB_W} * {_EB_M})
                     / (CAST(n AS DOUBLE) + {_EB_W}), 6) AS shrunk_rate
        FROM withp, stats
    """,
    "q210_cohort_ltv": """
        WITH base AS (
            SELECT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(CASE WHEN event_type = 'purchase'
                             THEN value ELSE 0 END
                        AS DECIMAL(18,2)) AS rev
            FROM events),
        first AS (
            SELECT user_id, MIN(day) AS cohort_day
            FROM base GROUP BY user_id),
        sizes AS (
            SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM first GROUP BY cohort_day),
        g AS (
            SELECT f.cohort_day,
                   CAST(date_diff('day', f.cohort_day, b.day) AS INT)
                       AS day_offset,
                   SUM(b.rev) AS rev_d
            FROM base b JOIN first f ON f.user_id = b.user_id
            GROUP BY 1, 2),
        r AS (
            SELECT cohort_day, day_offset,
                   SUM(rev_d) OVER (PARTITION BY cohort_day
                                    ORDER BY day_offset) AS cum
            FROM g)
        SELECT r.cohort_day, r.day_offset, s.n_users,
               CAST(cum AS DOUBLE) AS cum_revenue,
               ROUND(CAST(cum AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
                   AS ltv
        FROM r JOIN sizes s ON s.cohort_day = r.cohort_day
    """,
    "q208_dispersion_audit": f"""
        WITH ux AS (
            SELECT event_type, user_id, COUNT(*) AS x
            FROM events GROUP BY event_type, user_id),
        per_type AS (
            SELECT event_type,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x * x) AS BIGINT) AS sx2
            FROM ux GROUP BY event_type),
        u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
              FROM events)
        SELECT event_type,
               n AS n_users,
               sx AS n_events,
               ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
               {_DISP_VAR} AS variance,
               {_DISP_D} AS dispersion,
               (n * sx2 - sx * sx) * 10 > 15 * (n - 1) * sx
                   AS overdispersed
        FROM per_type, u
    """,
    "q198_trend_test": f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN value ELSE 0 END)
                        AS DECIMAL(18,6)) AS s
            FROM events GROUP BY user_id),
        tot AS (
            SELECT SUM(s) AS total, COUNT(*) AS n_users FROM per_user),
        f AS (
            SELECT user_id % 4 AS w,
                   CASE WHEN s * n_users > total THEN 1 ELSE 0 END AS conv
            FROM per_user, tot),
        one AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(conv) AS BIGINT) AS r,
                   CAST(SUM(w * conv) AS BIGINT) AS s1,
                   CAST(SUM(w) AS BIGINT) AS s2,
                   CAST(SUM(w * w) AS BIGINT) AS s3
            FROM f)
        SELECT n AS n_users,
               r AS n_conv,
               n * s1 - r * s2 AS t_num,
               {_CA_Z} AS z,
               {_CA_CHI2} AS chi2,
               1000 * CAST(n * s1 - r * s2 AS HUGEINT)
                    * CAST(n * s1 - r * s2 AS HUGEINT)
                    * CAST(n AS HUGEINT)
                 > 10828 * CAST(r AS HUGEINT)
                    * CAST(n - r AS HUGEINT)
                    * (CAST(n AS HUGEINT) * CAST(s3 AS HUGEINT)
                       - CAST(s2 AS HUGEINT) * CAST(s2 AS HUGEINT))
                   AS trend_flag
        FROM one
    """,
    "q193_srm_audit": """
        WITH g AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM events GROUP BY 1)
        SELECT day, n_a, n_b,
               ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                     / (n_a + n_b), 6) AS chi2,
               (n_a - n_b) * (n_a - n_b) * 1000 > (n_a + n_b) * 10828
                   AS srm_flag
        FROM g
    """,
    "q97_funnel_depth": """
        WITH u AS (SELECT DISTINCT user_id FROM events),
        v AS (SELECT user_id, MIN(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS t2
              FROM events e JOIN v ON v.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t1
                AND e.ts <= v.t1 + INTERVAL 1 HOUR
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS t3
              FROM events e JOIN c ON c.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t2
                AND e.ts <= c.t2 + INTERVAL 1 HOUR
              GROUP BY e.user_id),
        d AS (SELECT (CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END
                      + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
                      + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END)
                         AS depth
              FROM u LEFT JOIN v ON v.user_id = u.user_id
                     LEFT JOIN c ON c.user_id = u.user_id
                     LEFT JOIN p ON p.user_id = u.user_id)
        SELECT depth, COUNT(*) AS n_users FROM d GROUP BY depth
    """,
    "q98_retention_cohorts": """
        WITH first AS (SELECT user_id,
                              CAST(date_trunc('day', MIN(ts)) AS DATE)
                                  AS cohort_day
                       FROM events GROUP BY user_id),
        active AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('day', ts) AS DATE) AS day
                   FROM events)
        SELECT f.cohort_day,
               date_diff('day', f.cohort_day, a.day) AS day_offset,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM active a JOIN first f ON f.user_id = a.user_id
        GROUP BY 1, 2
    """,
    "q99_heavy_hitters": f"""
        WITH tok AS (SELECT unnest({_TOK}) AS term FROM documents),
        nn AS (SELECT COUNT(*) AS n_total FROM tok)
        SELECT term,
               COUNT(*) AS n_term,
               ROUND(CAST(COUNT(*) AS DOUBLE) / nn.n_total, 6) AS share
        FROM tok, nn
        GROUP BY term, nn.n_total
        HAVING COUNT(*) * {_HH_DEN} >= {_HH_NUM} * nn.n_total
    """,
    "q113_disorder_audit": """
        WITH marked AS (
            SELECT user_id,
                   epoch_us(ts) AS ts_us,
                   epoch_us(MAX(ts) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                       AS hwm_us
            FROM events),
        late AS (
            SELECT user_id,
                   CASE WHEN hwm_us > ts_us THEN hwm_us - ts_us
                        ELSE 0 END AS lateness_us
            FROM marked)
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_late,
               CAST(MAX(lateness_us) AS BIGINT) AS max_lateness_us
        FROM late GROUP BY user_id
    """,
    "q117_anomaly_zscore": f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour_start,
                   event_type,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2),
        based AS (
            SELECT hour_start, event_type, cnt,
                   COUNT(*) OVER wb AS n,
                   CAST(SUM(cnt) OVER wb AS BIGINT) AS s1,
                   CAST(SUM(cnt * cnt) OVER wb AS BIGINT) AS s2
            FROM hourly
            WINDOW wb AS (PARTITION BY event_type ORDER BY hour_start
                          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        SELECT hour_start, event_type, cnt,
               n AS n_baseline,
               {_Z_EXPR} AS zscore,
               COALESCE(ABS({_Z_EXPR}), 0.0) >= 2.0 AS is_anomaly
        FROM based
    """,
    "q130_touch_attribution": """
        WITH conv AS (
            SELECT user_id, ts AS cts, event_id AS ceid FROM (
                SELECT user_id, ts, event_id,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events WHERE event_type = 'purchase')
            WHERE rn = 1),
        touches AS (
            SELECT e.user_id, e.event_type, e.ts, e.event_id
            FROM events e JOIN conv c ON c.user_id = e.user_id
            WHERE e.event_type <> 'purchase'
              AND (e.ts < c.cts
                   OR (e.ts = c.cts AND e.event_id < c.ceid))),
        picks AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC)
                       AS rl
            FROM touches),
        t AS (SELECT event_type, COUNT(*) AS n_touches
              FROM touches GROUP BY 1),
        f AS (SELECT event_type, COUNT(*) AS n_first
              FROM picks WHERE rf = 1 GROUP BY 1),
        l AS (SELECT event_type, COUNT(*) AS n_last
              FROM picks WHERE rl = 1 GROUP BY 1)
        SELECT t.event_type,
               CAST(COALESCE(f.n_first, 0) AS BIGINT) AS n_first_touch,
               CAST(COALESCE(l.n_last, 0) AS BIGINT) AS n_last_touch,
               t.n_touches
        FROM t
        LEFT JOIN f ON f.event_type = t.event_type
        LEFT JOIN l ON l.event_type = t.event_type
    """,
    "q134_time_to_convert": """
        WITH first AS (SELECT user_id,
                              CAST(date_trunc('day', MIN(ts)) AS DATE)
                                  AS cohort_day
                       FROM events GROUP BY user_id),
        v AS (SELECT user_id, MIN(ts) AS tv FROM events
              WHERE event_type = 'view' GROUP BY user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS tp
              FROM events e JOIN v ON v.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > v.tv
              GROUP BY e.user_id),
        lat AS (
            SELECT f.cohort_day, p.user_id,
                   CAST((epoch_us(p.tp) - epoch_us(v.tv)) // 1000000
                        AS BIGINT) AS ttc_s
            FROM p
            JOIN v ON v.user_id = p.user_id
            JOIN first f ON f.user_id = p.user_id),
        ranked AS (
            SELECT cohort_day, ttc_s,
                   ROW_NUMBER() OVER (PARTITION BY cohort_day
                                      ORDER BY ttc_s, user_id) AS rn,
                   COUNT(*) OVER (PARTITION BY cohort_day) AS n
            FROM lat),
        med AS (
            SELECT cohort_day, AVG(ttc_s) AS median_ttc_s
            FROM ranked
            WHERE rn = floor((n + 1) / 2.0) OR rn = floor(n / 2.0) + 1
            GROUP BY cohort_day)
        SELECT l.cohort_day,
               COUNT(*) AS n_converters,
               MIN(l.ttc_s) AS min_ttc_s,
               MAX(m.median_ttc_s) AS median_ttc_s,
               MAX(l.ttc_s) AS max_ttc_s
        FROM lat l JOIN med m ON m.cohort_day = l.cohort_day
        GROUP BY l.cohort_day
    """,
    "q153_ab_test": f"""
        WITH per_user AS (
            SELECT user_id,
                   SUM(CAST(CASE WHEN event_type = 'purchase'
                                 THEN value ELSE 0.0 END
                            AS DECIMAL(18,6))) AS s
            FROM events GROUP BY user_id),
        tot AS (SELECT SUM(s) AS total, COUNT(*) AS n_users
                FROM per_user),
        flagged AS (
            SELECT p.user_id,
                   CASE WHEN p.s * t.n_users > t.total
                        THEN 1 ELSE 0 END AS converted
            FROM per_user p CROSS JOIN tot t),
        counts AS (
            SELECT
                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS na,
                CAST(SUM(CASE WHEN user_id % 2 = 0 AND converted = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS xa,
                CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS nb,
                CAST(SUM(CASE WHEN user_id % 2 = 1 AND converted = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS xb
            FROM flagged)
        SELECT na, xa,
               ROUND(CAST(xa AS DOUBLE) / nullif(na, 0), 6) AS rate_a,
               nb, xb,
               ROUND(CAST(xb AS DOUBLE) / nullif(nb, 0), 6) AS rate_b,
               {_AB_Z} AS z_score,
               ABS({_AB_Z}) > 1.96 AS significant
        FROM counts
    """,
    "q146_sequence_match": f"""
        WITH seq AS (
            SELECT user_id,
                   string_agg({_SEQ_CASE}, '' ORDER BY ts, event_id)
                       AS seq
            FROM events GROUP BY user_id),
        per_user AS (
            SELECT CAST(len(regexp_extract_all(seq, '{_SEQ_PATTERN}'))
                        AS INT) AS n_matches
            FROM seq)
        SELECT n_matches, COUNT(*) AS n_users
        FROM per_user GROUP BY n_matches
    """,
    "q183_conversion_paths": f"""
        WITH seq AS (
            SELECT user_id,
                   string_agg({_SEQ_CASE}, '' ORDER BY ts, event_id)
                       AS seq
            FROM events GROUP BY user_id),
        pfx AS (
            SELECT regexp_extract(seq, '^[^p]*p', 0) AS pfx FROM seq)
        SELECT right(pfx, 8) AS path, COUNT(*) AS n_users
        FROM pfx WHERE pfx <> ''
        GROUP BY 1
    """,
    "q145_watermark_planner": """
        WITH arr AS (
            SELECT user_id, event_id,
                   epoch_us(ts) AS ts_us,
                   epoch_us(ts)
                   + ((event_id * 2654435761) % 4294967296) % 600000000
                       AS arr_us
            FROM events),
        marked AS (
            SELECT ts_us,
                   MAX(ts_us) OVER (PARTITION BY user_id
                                    ORDER BY arr_us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) AS hwm_us
            FROM arr),
        late AS (
            SELECT CASE WHEN hwm_us > ts_us THEN hwm_us - ts_us
                        ELSE 0 END AS lateness_us
            FROM marked),
        wide AS (
            SELECT COUNT(*) AS n_events,
                   CAST(SUM(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
                   CAST(SUM(CASE WHEN lateness_us > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN lateness_us > 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS d10,
                   CAST(SUM(CASE WHEN lateness_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
                   CAST(SUM(CASE WHEN lateness_us > 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS d300,
                   CAST(SUM(CASE WHEN lateness_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1800,
                   CAST(SUM(CASE WHEN lateness_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d3600
            FROM late)
        SELECT 0 AS delay_s, n_events,
               d0 AS n_dropped,
               ROUND(CAST(d0 AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
                   AS drop_rate
        FROM wide
        UNION ALL
        SELECT 1 AS delay_s, n_events,
               d1 AS n_dropped,
               ROUND(CAST(d1 AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
                   AS drop_rate
        FROM wide
        UNION ALL
        SELECT 10 AS delay_s, n_events,
               d10 AS n_dropped,
               ROUND(CAST(d10 AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
                   AS drop_rate
        FROM wide
        UNION ALL
        SELECT 60 AS delay_s, n_events,
               d60 AS n_dropped,
               ROUND(CAST(d60 AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
                   AS drop_rate
        FROM wide
        UNION ALL
        SELECT 300 AS delay_s, n_events,
               d300 AS n_dropped,
               ROUND(CAST(d300 AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
                   AS drop_rate
        FROM wide
        UNION ALL
        SELECT 1800 AS delay_s, n_events,
               d1800 AS n_dropped,
               ROUND(CAST(d1800 AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
                   AS drop_rate
        FROM wide
        UNION ALL
        SELECT 3600 AS delay_s, n_events,
               d3600 AS n_dropped,
               ROUND(CAST(d3600 AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
                   AS drop_rate
        FROM wide
    """,
    "q139_event_transitions": """
        WITH seq AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       AS to_type
            FROM events),
        pairs AS (
            SELECT from_type, to_type, COUNT(*) AS n_transitions
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type),
        marg AS (
            SELECT from_type,
                   CAST(SUM(n_transitions) AS BIGINT) AS n_from
            FROM pairs GROUP BY from_type)
        SELECT p.from_type, p.to_type, p.n_transitions,
               ROUND(CAST(p.n_transitions AS DOUBLE)
                     / CAST(m.n_from AS DOUBLE), 6) AS p_to_given_from
        FROM pairs p JOIN marg m ON m.from_type = p.from_type
    """,
    "q159_kaplan_meier": f"""
        WITH pu AS (
            SELECT user_id,
                   MIN(epoch_us(ts)) AS t0,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN epoch_us(ts) END) AS tp
            FROM events GROUP BY user_id),
        st AS (
            SELECT CASE WHEN tp IS NOT NULL
                         AND tp <= {_KM_CUTOFF_US} THEN 1 ELSE 0 END
                       AS ev,
                   CAST((LEAST(COALESCE(tp, {_KM_CUTOFF_US}),
                               {_KM_CUTOFF_US}) - t0)
                        // 3600000000 AS BIGINT) AS dur_h
            FROM pu WHERE t0 <= {_KM_CUTOFF_US}),
        g AS (SELECT dur_h, COUNT(*) AS n_at,
                     CAST(SUM(ev) AS BIGINT) AS d
              FROM st GROUP BY dur_h),
        r AS (
            SELECT dur_h, n_at, d,
                   CAST(SUM(n_at) OVER (ORDER BY dur_h
                            ROWS BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING)
                        AS BIGINT) AS n_risk
            FROM g),
        r2 AS (
            SELECT dur_h, n_at, d, n_risk, {_KM_LOG} AS lg
            FROM r),
        r3 AS (
            SELECT dur_h, n_at, d, n_risk,
                   SUM(lg) OVER (ORDER BY dur_h
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cumlog,
                   MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                       OVER (ORDER BY dur_h
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS zeroed
            FROM r2)
        SELECT dur_h, n_risk, d AS n_events,
               n_at - d AS n_censored,
               {_KM_SURV} AS survival
        FROM r3 WHERE d > 0
    """,
    "q162_decayed_engagement": f"""
        WITH p AS (
            SELECT user_id, CAST(value AS DECIMAL(18,6)) AS v,
                   CAST(({_ENG_REF_US} - epoch_us(ts))
                        // 86400000000 AS INT) AS age
            FROM events WHERE event_type = 'purchase'),
        d AS (
            SELECT user_id, v,
                   CASE WHEN age >= 0 AND age < 64
                        THEN ({_ENG_SQL_ARR})[age + 1]
                        ELSE 0.0 END AS decay
            FROM p),
        s AS (
            SELECT user_id, v,
                   CAST(ROUND(CAST(v AS DOUBLE) * decay, 9)
                        AS DECIMAL(18,9)) AS contrib
            FROM d)
        SELECT user_id, COUNT(*) AS n_purchases,
               CAST(SUM(v) AS DOUBLE) AS lifetime_spend,
               ROUND(CAST(SUM(contrib) AS DOUBLE), 6) AS engagement
        FROM s GROUP BY user_id
    """,
    "q179_rolling_active_users": """
        WITH pu AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events),
        span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM pu),
        cal AS (SELECT CAST(unnest(generate_series(
                           CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                           INTERVAL 1 DAY)) AS DATE) AS day
                FROM span),
        contrib AS (
            SELECT user_id,
                   CAST(unnest(generate_series(
                       CAST(day AS TIMESTAMP),
                       CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                       INTERVAL 1 DAY)) AS DATE) AS wday
            FROM pu),
        wau AS (SELECT wday AS day, COUNT(DISTINCT user_id) AS wau
                FROM contrib GROUP BY 1),
        dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
                FROM pu GROUP BY 1)
        SELECT c.day,
               CAST(COALESCE(w.wau, 0) AS BIGINT) AS wau,
               CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
               CASE WHEN COALESCE(w.wau, 0) > 0
                    THEN ROUND(CAST(COALESCE(d.dau, 0) AS DOUBLE)
                               / w.wau, 6)
                    END AS stickiness
        FROM cal c
        LEFT JOIN wau w ON w.day = c.day
        LEFT JOIN dau d ON d.day = c.day
    """,
    "q188_cuped_lift": f"""
        WITH per AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                  AND epoch_us(ts) <= {_CUPED_CUTOFF_US}
                                 THEN CAST(value AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END)
                        AS DOUBLE) AS xd,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                  AND epoch_us(ts) > {_CUPED_CUTOFF_US}
                                 THEN CAST(value AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END)
                        AS DOUBLE) AS yd
            FROM events GROUP BY user_id),
        terms AS (
            SELECT user_id % 2 AS grp, xd, yd,
                   CAST(ROUND(xd * yd, 9) AS DECIMAL(28,9)) AS txy,
                   CAST(ROUND(xd * xd, 9) AS DECIMAL(28,9)) AS txx,
                   CAST(ROUND(yd * yd, 9) AS DECIMAL(28,9)) AS tyy,
                   CAST(xd AS DECIMAL(18,6)) AS tx,
                   CAST(yd AS DECIMAL(18,6)) AS ty
            FROM per),
        pooled AS (
            SELECT COUNT(*) AS n, SUM(tx) AS sx, SUM(ty) AS sy,
                   SUM(txy) AS sxy, SUM(txx) AS sxx, SUM(tyy) AS syy
            FROM terms),
        arms AS (
            SELECT grp, COUNT(*) AS ng,
                   SUM(tx) AS sxg, SUM(ty) AS syg
            FROM terms GROUP BY grp)
        SELECT CAST(grp AS BIGINT) AS grp,
               CAST(ng AS BIGINT) AS n_users,
               ROUND(CAST(syg AS DOUBLE) / ng, 6) AS mean_y,
               ROUND(CAST(sxg AS DOUBLE) / ng, 6) AS mean_x,
               {_CUPED_ADJ.format(theta=_CUPED_THETA)} AS mean_y_adj,
               ROUND({_CUPED_THETA}, 6) AS theta,
               ROUND({_CUPED_RHO2}, 6) AS rho2
        FROM arms CROSS JOIN pooled
    """,
    "q181_daily_ohlc": f"""
        WITH p AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   epoch_us(ts) AS us, event_id,
                   CAST(value AS DECIMAL(18,6)) AS v
            FROM events WHERE event_type = 'purchase'),
        k AS (SELECT day, v, {_OHLC_KEY.replace("AS STRING", "AS VARCHAR")} AS ok FROM p)
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_trades,
               CAST(arg_min(v, ok) AS DOUBLE) AS open,
               CAST(MAX(v) AS DOUBLE) AS high,
               CAST(MIN(v) AS DOUBLE) AS low,
               CAST(arg_max(v, ok) AS DOUBLE) AS close,
               CAST(SUM(v) AS DOUBLE) AS volume
        FROM k GROUP BY day
    """,
}
