"""Time-series / multi-level analytics operators over the events stream
table and orders: gap sessionization, as-of join, rollup, set ops.

These widen §2 coverage with the operators any production use of the
reference's fact tables needs (and that Spark users expect from an
analytics engine): the reference itself has none of them (SURVEY.md
§2.I — "no theta/range/as-of joins, no window functions, no
union/intersect/except"), so they are engine extensions, each with an
exact ANSI-SQL oracle.

Scale notes (100 TB story):
- sessionize and as-of are single-shuffle window plans: ONE exchange
  hash-partitioned by user_id, then both the lag/cumsum (sessionize)
  and the last-non-null carry (as-of) run inside the sorted partition.
  No joins, no second shuffle; at 1000 executors each user's timeline
  lands on one task, and AQE handles hot users via skew-split only if
  a single user exceeds a partition (then salting by day is the known
  mitigation).
- the as-of join is deliberately NOT a range join (which Spark plans
  as broadcast-nested-loop): union the two sides, sort once, carry the
  last right-side timestamp forward — O(n log n) instead of O(n·m).
- rollup is Catalyst's Expand + partial hash aggregate: map-side
  combine happens before the single shuffle, so the shuffle carries
  one row per (group × grouping-set) per task, not per input row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as TX
from ..schemas import load_table
from ._buckets import bucket_of, bucket_offsets, quantile_bounds

SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4 h gap closes a session

# DuckDB-side tokenizer macro, identical to the other plan modules'
_ATOK = "string_split_regex(lower(trim(text)), '\\s+')"



def q31_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >4 h silence starts a new session.

    lag + cumulative-sum over a (user_id, ts) window — the batch twin
    of streaming ``session_window`` (streaming/windows.py uses the
    built-in; this formulation is what a SQL engine can verify).
    """
    ev = load_table(spark, sf_dir, "events")
    # event_id tiebreak: with ts alone, tied timestamps make lag/cumsum
    # nondeterministic across engines; the surrogate id pins the order.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > SESSION_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = ev.withColumn("new_s", new_s).withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


def q32_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the latest purchase at-or-before
    it by the same user (NULL if none yet).

    Implemented as union + sorted last-non-null carry (see module
    docstring); the DuckDB oracle uses its native ASOF LEFT JOIN, so
    this differentially proves our composition implements the real
    as-of semantics. Ties (purchase ts == click ts) count as matched:
    the right side sorts before the left at equal ts.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(0).alias("is_right"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.col("ts").alias("p_ts"), F.lit(1).alias("is_right"),
    )
    both = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_right").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = both.withColumn(
        "last_purchase_ts", F.last("p_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("is_right") == 0).select(
        "event_id", "user_id", "ts", "last_purchase_ts"
    )


def q33_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level ROLLUP: (status, priority) → status subtotals → grand
    total, one Expand + single-shuffle hash aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


def q34_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: (1995 buyers ∩ 1996 buyers) \\ finished-order
    buyers — INTERSECT and EXCEPT with DISTINCT semantics, planned by
    Catalyst as hash semi/anti joins on the pre-aggregated key sets."""
    o = load_table(spark, sf_dir, "orders")
    buyers_95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    buyers_96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    finished = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return buyers_95.intersect(buyers_96).subtract(finished)


def q182_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median order price per priority, weighted by the
    order's line-item count — the robust center estimate when records
    carry unequal mass (unweighted q36 over-counts thin orders). The
    lower weighted median: the smallest price whose cumulative weight
    reaches half the total, deterministic under the (price, orderkey)
    total order, all weights exact integers.

    Scale shape: the q150 two-phase rewrite applied to a WEIGHTED
    cumulative sum — sampled price boundaries bucket each priority,
    every (priority, bucket) partition cumsums its weights locally in
    parallel, and the tiny per-bucket offset frame (≤ priorities × 33
    rows) stitches global cumulative weights; the crossing row then
    falls out of a filter + min_by, so NO priority ever serializes
    into one window task (the q36 single-window shape would)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    wts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("w"))
    base = o.join(
        wts, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        "o_orderpriority",
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_totalprice").alias("_pd"),
        "w",
    )
    bucketed = base.withColumn(
        "_bkt", bucket_of("_pd", quantile_bounds(base, "_pd"))
    )
    offs = (
        bucketed.groupBy("o_orderpriority", "_bkt")
        .agg(F.sum("w").alias("bw"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bw").over(
                    Window.partitionBy("o_orderpriority")
                    .orderBy("_bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "tw",
            F.sum("bw").over(Window.partitionBy("o_orderpriority")),
        )
        .select("o_orderpriority", "_bkt", "off", "tw")
    )
    wl = Window.partitionBy("o_orderpriority", "_bkt").orderBy(
        "price", "o_orderkey"
    )
    cum = bucketed.withColumn(
        "lc",
        F.sum("w").over(wl.rowsBetween(Window.unboundedPreceding, 0)),
    ).join(F.broadcast(offs), ["o_orderpriority", "_bkt"])
    qual = cum.filter(
        2 * (F.col("off") + F.col("lc")) >= F.col("tw")
    )
    return qual.groupBy("o_orderpriority").agg(
        F.max("tw").alias("total_weight"),
        F.min_by(
            "price", F.struct("price", "o_orderkey")
        )
        .cast("double")
        .alias("weighted_median"),
    )


def q189_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier (skyline) of orders on (price↑ better, order
    date↓ better): every order no other order dominates — "the
    biggest orders, earliest" — the multi-criteria shortlist operator
    (SKYLINE OF in research SQL) relational engines lack natively.
    Dominance: q beats p iff q.price ≥ p.price, q.date ≤ p.date, with
    at least one strict.

    The quadratic NOT-EXISTS definition collapses to a group sweep:
    a point survives iff it carries its price group's MINIMUM date
    AND that date is strictly below every higher-price group's
    minimum — i.e. a prefix-min over price groups. That prefix-min
    runs as the q150 two-phase rewrite (bucketed local prefix + a
    ≤33-row boundary stitch), so the price-group frame — which at
    continuous prices is order-count-sized — never sorts in one
    task; the final join back to order rows is price-keyed.

    Exactness: prices compare as DECIMAL(18,2), dates as dates — no
    float boundaries anywhere."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_totalprice").alias("_pd"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    pg = pts.groupBy("price").agg(
        F.min("odate").alias("gmin"), F.min("_pd").alias("_pdd")
    )
    bucketed = pg.withColumn(
        "_bkt", bucket_of("_pdd", quantile_bounds(pts, "_pd"))
    )
    wl = Window.partitionBy("_bkt").orderBy(F.col("price").desc())
    local = bucketed.withColumn(
        "lp",
        F.min("gmin").over(wl.rowsBetween(Window.unboundedPreceding, -1)),
    )
    boff = (
        bucketed.groupBy("_bkt")
        .agg(F.min("gmin").alias("bmin"))
        .withColumn(
            "off",
            F.min("bmin").over(
                Window.orderBy(F.col("_bkt").desc()).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        )
        .select("_bkt", "off")
    )
    surv = (
        local.join(F.broadcast(boff), "_bkt")
        .withColumn("h", F.least("lp", "off"))
        .filter(F.col("h").isNull() | (F.col("gmin") < F.col("h")))
        .select("price", "gmin")
    )
    return (
        pts.join(surv, "price")
        .filter(F.col("odate") == F.col("gmin"))
        .select(
            "o_orderkey",
            F.col("price").cast("double").alias("price"),
            "odate",
        )
    )


def q184_concurrent_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak concurrency per calendar day: the maximum number of
    simultaneously-open q31 sessions, via the classic sweep line —
    every session contributes a +1 at its (clipped) start and a −1
    just after its (clipped) end, and peak concurrency is the max
    prefix sum. THE capacity metric (how many live sessions must the
    serving tier hold?) and an algorithmic shape nothing else in the
    registry exercises: interval-overlap aggregation without an
    interval join.

    Determinism: inclusive-end semantics — at a shared instant,
    starts are processed before ends (ORDER BY t, delta DESC), so a
    session ending exactly when another starts counts as overlap;
    ties within the same delta can't change any prefix sum.

    Scale shape: sessions are the q164 single-shuffle windows;
    midnight-spanning sessions explode row-locally into their ≤2-3
    day slices; the sweep is a day-partitioned window (bounded by a
    day's boundary events, never the global log)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    s = _us_sessions(ev)
    sliced = s.select(
        "user_id",
        "sid",
        "st",
        "en",
        F.explode(
            F.sequence(
                F.expr("CAST(to_date(timestamp_micros(st)) AS DATE)"),
                F.expr("CAST(to_date(timestamp_micros(en)) AS DATE)"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    ).select(
        "user_id",
        "sid",
        "day",
        F.greatest(
            F.col("st"), F.expr("unix_micros(CAST(day AS TIMESTAMP))")
        ).alias("cst"),
        F.least(
            F.col("en"),
            F.expr(
                "unix_micros(CAST(day AS TIMESTAMP)"
                " + INTERVAL 1 DAY) - 1"
            ),
        ).alias("cen"),
    )
    bounds = sliced.select(
        "day", F.col("cst").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        sliced.select(
            "day", (F.col("cen") + 1).alias("t"), F.lit(-1).alias("delta")
        )
    )
    w = Window.partitionBy("day").orderBy(
        F.col("t"), F.col("delta").desc()
    )
    swept = bounds.withColumn(
        "conc",
        F.sum("delta").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    peaks = swept.groupBy("day").agg(
        F.max("conc").cast("long").alias("peak_concurrency")
    )
    counts = sliced.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    return counts.join(peaks, "day")


def q180_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operators — INTERSECT ALL and EXCEPT ALL
    over each year's (customer, priority) order bags, rolled up per
    surviving key with the surviving multiplicity. q34 covers the
    DISTINCT variants; the ALL variants are semantically different
    operators (min-multiplicity and multiplicity-difference) that SQL
    engines implement with a dedicated counted anti/semi strategy —
    losing a duplicate here silently corrupts any bag-accounting
    pipeline (e.g. order-level reconciliation), which is why the
    multiplicities are the output.

    Scale shape: both operators hash-partition on the full row key —
    one exchange per side, multiplicities resolved map-side after the
    co-partition; the rollup rides the same partitioning."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1996).select(
        "o_custkey", "o_orderpriority"
    )
    b = o.filter(F.year("o_orderdate") == 1997).select(
        "o_custkey", "o_orderpriority"
    )
    inter = (
        a.intersectAll(b)
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "*")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "*")
    )
    return inter.unionByName(exc)


def q36_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed median of order price per priority.

    Formulated as rank-vs-count window selection + decimal average of
    the (one or two) middle rows — identical arithmetic in any engine,
    unlike percentile interpolation whose float rounding is
    implementation-defined. One shuffle (window partition), then a
    two-row-per-group aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    ranked = o.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
    )
    return mid.groupBy("o_orderpriority").agg(
        F.avg("price").cast("double").alias("median_price"),
        F.max("n").alias("n_orders"),
    )


def q37_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts + decimal revenue per priority, one column
    pair per status — Catalyst plans it as a single hash aggregate with
    conditional expressions (which is exactly the SQL oracle's FILTER
    formulation)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev"),
        )
    )


def q38_scalar_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage in one projection: math, string, date,
    and conditional functions whose results are exactly defined (no
    implementation-defined float transcendentals), so the oracle match
    is bit-exact."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.abs(F.col("o_totalprice") * -1).alias("abs_price"),
        F.round(F.col("o_totalprice"), 0).alias("round_price"),
        F.floor("o_totalprice").cast("long").alias("floor_price"),
        F.ceil("o_totalprice").cast("long").alias("ceil_price"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).alias("key_mod7"),
        F.sqrt(F.col("o_orderkey").cast("double")).alias("key_sqrt"),
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio3"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_pad"),
        F.length("o_orderpriority").alias("prio_len"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.last_day("o_orderdate").alias("month_end"),
        F.greatest(F.year("o_orderdate"), F.lit(1996)).alias("y_floor"),
        F.coalesce(
            F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")
        ).alias("status_norm"),
    )


def q44_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: for every error event, how many events the
    same user produced in the following hour.

    Equality on user_id + a range predicate on ts: Catalyst plans the
    equi-part as the join key and evaluates the range as a join filter,
    so this stays a hash/sort-merge join — never a nested loop. (A pure
    range join with no equality would be the BNL trap; keying by entity
    is what makes interval joins scale.)
    """
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("user_id"), F.col("ts").alias("err_ts")
    )
    later = ev.select("user_id", F.col("ts").alias("ev_ts"))
    joined = errors.join(later, on="user_id").filter(
        (F.col("ev_ts") > F.col("err_ts"))
        & (F.unix_micros("ev_ts") - F.unix_micros("err_ts") <= 3600 * 1_000_000)
    )
    return (
        joined.groupBy("error_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_following"))
    )


def q45_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column operators: per-user event-type counts packed
    into a map (map_from_entries ∘ collect aggregate), then consumed
    back out via explode + map cardinality. The flattened output is what
    the oracle recomputes directly — the map round-trip itself is the
    Spark surface under test."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    return mapped.select(
        "user_id",
        F.size("type_counts").alias("n_types"),
        F.explode("type_counts").alias("event_type", "n_events"),
    )


def q78_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT — the inverse of q37's pivot and a distinct operator:
    wide part metrics melt into (metric, value) long form via
    ``DataFrame.unpivot`` (Catalyst's Expand node: one pass, rows×k
    output, no shuffle, no join). The oracle states the same reshape
    as a UNION ALL of per-metric projections, which is also the
    engine-portable fallback formulation."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# q111's audited numeric columns. All four are 2-decimal money/rate
# doubles in this dataset, so the decimal(18,2) sum is exact and the
# final CAST ... AS DOUBLE is the repo's q01 convention.
_STATS_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q111_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics as a query — the stats
    collector a cost-based optimizer (and every data-quality monitor)
    runs per table: for each audited numeric column of lineitem, row
    count, null count, exact distinct count, min/max, and the
    decimal-exact sum. The wide table melts via ``unpivot`` (q78's
    Expand node — one pass, rows x k, no shuffle), then ONE grouped
    aggregate per column name computes everything; the exact ndv is a
    (col_name, val)-keyed partial agg, the distributed shape of
    ANALYZE .. COMPUTE STATISTICS (which would use HLL where q43
    shows the sketch path)."""
    li = load_table(spark, sf_dir, "lineitem").select(*_STATS_COLS)
    long = li.unpivot(
        ids=[],
        values=list(_STATS_COLS),
        variableColumnName="col_name",
        valueColumnName="val",
    )
    return long.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("val").isNull().cast("long")).alias("n_null"),
        F.countDistinct("val").alias("ndv"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.sum(F.col("val").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_val"),
    )


def q115_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint suite — the deequ/dbt-test shape: each
    declared constraint (uniqueness, referential integrity, range,
    accepted values, non-null) evaluates to one (constraint,
    n_checked, n_violations, passed) row; the suite is the UNION of
    independent scalar aggregates, so a scheduler can run it after
    every load (the reference's G1/G2 COUNT-DISTINCT audits are the
    two-table special case of this operator).

    Scale shape: every constraint is one partial agg over its own
    scan (count/distinct/conditional-sum); the FK check is one
    broadcast anti-join keyed on the dim pk. No constraint ever
    materializes violating ROWS — only counts travel."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def row(name, checked_col, viol_col):
        return F.struct(
            F.lit(name).alias("constraint_name"),
            checked_col.cast("long").alias("n_checked"),
            viol_col.cast("long").alias("n_violations"),
        )

    uniq = o.agg(
        row(
            "orders.o_orderkey unique",
            F.count(F.lit(1)),
            F.count(F.lit(1)) - F.countDistinct("o_orderkey"),
        ).alias("r")
    )
    fk = li.join(
        F.broadcast(o.select("o_orderkey")),
        li.l_orderkey == F.col("o_orderkey"),
        "left",
    ).agg(
        row(
            "lineitem.l_orderkey -> orders",
            F.count(F.lit(1)),
            F.sum(F.col("o_orderkey").isNull().cast("long")),
        ).alias("r")
    )
    qty = li.agg(
        row(
            "lineitem.l_quantity in [1,50]",
            F.count(F.lit(1)),
            F.sum(
                (~F.col("l_quantity").between(1.0, 50.0)).cast("long")
            ),
        ).alias("r")
    )
    disc = li.agg(
        row(
            "lineitem.l_discount in [0,0.1]",
            F.count(F.lit(1)),
            F.sum(
                (~F.col("l_discount").between(0.0, 0.1)).cast("long")
            ),
        ).alias("r")
    )
    status = o.agg(
        row(
            "orders.o_orderstatus accepted",
            F.count(F.lit(1)),
            F.sum(
                (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
            ),
        ).alias("r")
    )
    # cross-table temporal invariant — the one this synthetic generator
    # actually violates, proving the suite detects, not just rubber-stamps
    temporal = li.join(
        F.broadcast(o.select("o_orderkey", "o_orderdate")),
        li.l_orderkey == F.col("o_orderkey"),
    ).agg(
        row(
            "lineitem.l_shipdate >= order date",
            F.count(F.lit(1)),
            F.sum((F.col("l_shipdate") < F.col("o_orderdate")).cast("long")),
        ).alias("r")
    )
    suite = (
        uniq.unionByName(fk)
        .unionByName(qty)
        .unionByName(disc)
        .unionByName(status)
        .unionByName(temporal)
    )
    return suite.select("r.*").withColumn(
        "passed", F.col("n_violations") == 0
    )


# q116 sampling rate: keep orders whose md5(o_orderkey) first byte is
# < 0x20 — exactly 32/256 = 1/8 of hash space, deterministic on any
# cluster (the q39 hash-sampling technique applied to cardinality
# estimation, the sampled input to a cost-based join planner).
_CARD_SCALE = 8


def q116_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-cardinality estimation by deterministic key sampling:
    join lineitem against a 1/8 md5-hash sample of orders, scale the
    hit count back up, and report it against the exact join count
    with the relative error — the statistics pass a cost-based
    optimizer runs INSTEAD of the full join at 100 TB (here the exact
    side exists only as the differential's truth). Sampling the DIM
    side by its pk keeps the estimate unbiased for pk-fk joins: every
    fact row's key is kept with probability exactly 1/8."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    samp = o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "20"
    )
    est = li.join(
        F.broadcast(samp), li.l_orderkey == samp.o_orderkey
    ).agg((F.count(F.lit(1)) * _CARD_SCALE).alias("est_n"))
    exact = li.join(
        F.broadcast(o), li.l_orderkey == o.o_orderkey
    ).agg(F.count(F.lit(1)).alias("exact_n"))
    return exact.crossJoin(est).select(
        "exact_n",
        "est_n",
        F.round(
            F.abs(F.col("est_n") - F.col("exact_n")).cast("double")
            / F.col("exact_n"),
            6,
        ).alias("rel_err"),
    )


# q124 geometry: the contingency table is source x token-length bucket
# (4 fixed caps, integer-exact CASE like q114's). The chi-square per-
# cell contribution is the only float work — ONE shared expression
# (explicit DOUBLE casts, q122/BM25 convention) with the per-cell term
# snapped to DECIMAL(18,6) so the statistic is an EXACT sum, order-
# independent at any parallelism.
_CHI_CASE = (
    "CASE WHEN n_tok <= 32 THEN 32 WHEN n_tok <= 56 THEN 56"
    " WHEN n_tok <= 80 THEN 80 ELSE 128 END"
)
_CHI_CONTRIB = (
    "CAST(ROUND("
    "(CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
    " * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
    " / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)"
    " AS DECIMAL(18,6))"
)


def q124_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document source and
    token-length bucket — the corpus-health audit for "do sources have
    different length profiles" (a significant statistic here means
    per-source length normalization before mixing). Output is the full
    contingency table: one row per observed (source, bucket) cell with
    observed count, expected count under independence, the cell's
    chi-square contribution, and the table-level statistic + degrees
    of freedom repeated on every row (so one query carries both the
    cells and the test result).

    Scale shape: raw docs collapse to the cell table in ONE partial-agg
    shuffle; marginals and the statistic are aggregates OF the tiny
    cell table (sources x 4 rows); every float term is the shared
    ``_CHI_CONTRIB`` chain snapped to decimal before the exact sum."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select(
            "source", F.size(TX.tokens("text")).alias("n_tok")
        )
        .select("source", F.expr(_CHI_CASE).alias("bucket_cap"))
        .groupBy("source", "bucket_cap")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rows_t = cells.groupBy("source").agg(F.sum("o").alias("rt"))
    cols_t = cells.groupBy("bucket_cap").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    full = (
        cells.join(F.broadcast(rows_t), "source")
        .join(F.broadcast(cols_t), "bucket_cap")
        .crossJoin(F.broadcast(tot))
    )
    scored = full.select(
        "source",
        "bucket_cap",
        "o",
        F.round(
            F.col("rt").cast("double")
            * F.col("ct").cast("double")
            / F.col("n").cast("double"),
            4,
        ).alias("expected"),
        F.expr(_CHI_CONTRIB).alias("contrib"),
    )
    dims = scored.agg(
        F.sum("contrib").cast("double").alias("chi2"),
        (
            (F.count_distinct("source") - F.lit(1))
            * (F.count_distinct("bucket_cap") - F.lit(1))
        ).alias("dof"),
    )
    return scored.crossJoin(F.broadcast(dims)).select(
        "source",
        "bucket_cap",
        "o",
        "expected",
        F.col("contrib").cast("double").alias("contrib"),
        "chi2",
        "dof",
    )


# q126 geometry: per-source OLS of n_chars on token count. The six
# sufficient statistics (n, Σx, Σy, Σxx, Σyy, Σxy) are ONE map-side-
# combined groupBy — the regression never sees rows twice and nothing
# but six numbers per source crosses the shuffle. Products are built
# from int columns BEFORE the sum so each sum is an exact integer;
# the closed-form slope/intercept/r² are one shared double chain over
# those exact sums (q122 convention), rounded to 6.
_OLS_SLOPE = (
    "ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)"
)
_OLS_ICEPT = (
    "ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))"
    " / CAST(n AS DOUBLE), 6)"
)
_OLS_R2 = (
    "ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
)


def q126_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ordinary-least-squares fit of character count on
    token count — the closed-form "scaling relationship" regression a
    curation pipeline runs to spot sources whose length profile breaks
    the corpus trend (an outlier slope means a different tokenization
    or content mix; a low r² means the source is heterogeneous).
    Output: one row per source with n, slope, intercept, and r².

    Scale shape: the classic sufficient-statistics trick — the fit is
    ONE partial-agg groupBy carrying six exact integer sums per
    source; the algebra runs on the 20-row aggregate, so the plan is
    a scan + one narrow shuffle regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    xy = d.select(
        "source",
        F.size(TX.tokens("text")).cast("long").alias("x"),
        F.col("n_chars").alias("y"),
    )
    stats = xy.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return stats.select(
        "source",
        "n",
        F.expr(_OLS_SLOPE).alias("slope"),
        F.expr(_OLS_ICEPT).alias("intercept"),
        F.expr(_OLS_R2).alias("r2"),
    )


def q127_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between every pair of
    languages' token-length distributions — the distribution-drift
    audit a pipeline runs before mixing corpora ("does zh have the
    same length profile as en?"). Output: one row per unordered lang
    pair with both sample sizes, the KS statistic, and the length at
    which the ECDF gap peaks.

    Exactness: the ECDF gap is kept INTEGRAL until the last step —
    ECDF₁(v) − ECDF₂(v) = (cum1·n2 − cum2·n1) / (n1·n2), so the max
    runs over exact integers (cross-engine-identical by construction)
    and only the final KS ratio is a rounded double. The argmax length
    is the smallest v attaining the max, a deterministic tiebreak.

    Scale shape: docs collapse to per-(lang, length) counts in one
    partial-agg shuffle; the ECDF grid is (distinct lengths × langs) —
    bounded by the value domain, not the corpus — built by a cumulative
    window per lang; the pair join runs on that tiny grid."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.size(TX.tokens("text")).alias("v"))
        .groupBy("lang", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # dense (lang × global grid) frame: every lang needs an ECDF value
    # at every jump point of EVERY lang, else the pair join misses gaps
    # that peak between one lang's own jumps
    grid = counts.select("v").distinct()
    langs = counts.groupBy("lang").agg(F.sum("c").alias("n_l"))
    dense = langs.crossJoin(grid).join(
        counts, on=["lang", "v"], how="left"
    ).fillna(0, subset=["c"])
    w = Window.partitionBy("lang").orderBy("v")
    ecdf = dense.select(
        "lang",
        "n_l",
        "v",
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    a = ecdf.select(
        F.col("lang").alias("lang1"),
        F.col("n_l").alias("n1"),
        "v",
        F.col("cum").alias("cum1"),
    )
    b = ecdf.select(
        F.col("lang").alias("lang2"),
        F.col("n_l").alias("n2"),
        "v",
        F.col("cum").alias("cum2"),
    )
    gaps = (
        a.join(b, on="v")
        .filter(F.col("lang1") < F.col("lang2"))
        .select(
            "lang1",
            "lang2",
            "n1",
            "n2",
            "v",
            F.abs(
                F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
            ).alias("gap_num"),
        )
    )
    peak = gaps.groupBy("lang1", "lang2", "n1", "n2").agg(
        F.max("gap_num").alias("ks_num")
    )
    return (
        gaps.join(peak, on=["lang1", "lang2", "n1", "n2"])
        .filter(F.col("gap_num") == F.col("ks_num"))
        .groupBy("lang1", "lang2", "n1", "n2", "ks_num")
        .agg(F.min("v").alias("peak_len"))
        .select(
            "lang1",
            "lang2",
            "n1",
            "n2",
            F.round(
                F.col("ks_num").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("ks"),
            "peak_len",
        )
    )


def q131_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source outlier audit via median absolute deviation:
    per source, the exact median token count, the exact MAD, and how
    many documents sit beyond 3·MAD — the heavy-tail detector quality
    pipelines prefer over z-scores because one pathological document
    can't move the cut (it CAN move a mean/stddev cut, which is what
    q117 uses on counts).

    Exactness without decimals: both medians are q36's rank-vs-count
    selection, so each is the average of ≤2 INTEGER (or half-integer)
    values — dyadic rationals that doubles represent exactly, making
    every comparison cross-engine-exact with no decimal casts at all.

    Scale shape: two per-source sort windows (the price of exact
    medians — the approximate path is q62's GK sketch) over a frame
    that is (source, int, id) wide, never documents; the outlier
    count is one broadcast-joined filter agg."""
    d = load_table(spark, sf_dir, "documents")
    x = d.select(
        "source",
        F.size(TX.tokens("text")).alias("v"),
        "doc_id",
    )
    from ..caching import persist_tracked

    x = persist_tracked(x)
    wn = Window.partitionBy("source")
    w1 = Window.partitionBy("source").orderBy("v", "doc_id")
    r1 = x.select(
        "source",
        "v",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r1.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
    ).groupBy("source").agg(
        F.avg("v").alias("med"), F.max("n").alias("n_docs")
    )
    dev = persist_tracked(
        x.join(F.broadcast(med), "source").select(
            "source",
            "doc_id",
            "n_docs",
            "med",
            F.abs(F.col("v") - F.col("med")).alias("dev"),
        )
    )
    w2 = Window.partitionBy("source").orderBy("dev", "doc_id")
    r2 = dev.select(
        "source",
        "dev",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = r2.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
    ).groupBy("source").agg(F.avg("dev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("med").alias("median_tok"),
            F.max("mad").alias("mad"),
            F.sum(
                (F.col("dev") > 3 * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
    )


# q135 moment algebra: population mean/variance/skewness/excess-
# kurtosis of the per-key row-count distribution, in closed form from
# the exact power sums S1..S4. The sums stay INTEGER end-to-end
# (Spark: decimal(38,0) products of a decimal(20,0) key count; DuckDB:
# HUGEINT), so the shared double chain below starts from identical
# integers in both engines.
_KM_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_KM_M2 = (
    f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {_KM_MEAN} * {_KM_MEAN})"
)
_KM_M3 = (
    f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3 * {_KM_MEAN} * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + 2 * {_KM_MEAN} * {_KM_MEAN} * {_KM_MEAN})"
)
_KM_M4 = (
    f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4 * {_KM_MEAN} * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" + 6 * {_KM_MEAN} * {_KM_MEAN}"
    f" * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3 * {_KM_MEAN} * {_KM_MEAN} * {_KM_MEAN} * {_KM_MEAN})"
)


def q135_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight: the moment profile of lineitem's
    per-supplier row counts — mean, variance, skewness, excess
    kurtosis, the hottest key's count, and its ratio to the mean.
    This is the audit that decides whether a planned join needs q69's
    salting (high max/mean) or plain hash partitioning (ratio ≈ 1):
    run it BEFORE the 100-TB join, not after the straggler.

    Scale shape: per-key counts are one map-side-combined groupBy;
    the four power sums collapse those counts to ONE row in a second
    partial agg (products computed per key in decimal(38,0), so the
    sums are exact integers at any corpus size); the closed-form
    moments are driver-side-free scalar math on that row."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("k")
    )
    kd = F.col("k").cast("decimal(20,0)")
    sums = per_key.select(
        F.col("k"),
        (kd * kd).alias("k2"),
        (kd * kd * kd).alias("k3"),
        (kd * kd * kd * kd).alias("k4"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("s1"),
        F.sum("k2").alias("s2"),
        F.sum("k3").alias("s3"),
        F.sum("k4").alias("s4"),
        F.max("k").alias("max_ct"),
    )
    return sums.select(
        F.col("n").alias("n_keys"),
        F.expr(f"ROUND({_KM_MEAN}, 6)").alias("mean_ct"),
        F.expr(f"ROUND({_KM_M2}, 6)").alias("variance"),
        F.expr(
            f"ROUND({_KM_M3} / pow({_KM_M2}, 1.5), 6)"
        ).alias("skewness"),
        F.expr(
            f"ROUND({_KM_M4} / ({_KM_M2} * {_KM_M2}) - 3, 6)"
        ).alias("kurtosis_excess"),
        "max_ct",
        F.expr(
            f"ROUND(CAST(max_ct AS DOUBLE) / {_KM_MEAN}, 6)"
        ).alias("max_over_mean"),
    )


def _global_ntile(
    df: DataFrame,
    metric: str,
    id_col: str,
    k: int,
    out: str,
    ascending: bool = True,
    boundaries: list | None = None,
) -> DataFrame:
    """Exact global NTILE(k) WITHOUT the single-task sort a bare
    ``Window.orderBy`` degenerates to — q65's two-phase rewrite
    (sampled range boundaries → bucket-local row_number → broadcast
    offsets) plus the SQL-standard ntile remainder rule applied to the
    reconstructed global rank: with n rows and q, r = divmod(n, k),
    the first r buckets get q+1 rows. Boundary placement affects only
    balance, never the result — ties share a bucket and split on the
    ``id_col`` tiebreak, exactly like NTILE OVER (ORDER BY metric,
    id)."""
    key = F.col(metric).cast("double")
    if not ascending:
        key = -key
    if boundaries is None:
        bnds = quantile_bounds(df.select(key.alias("_k")), "_k", n=16)
    else:
        # caller pre-probed (e.g. one multi-column approxQuantile pass
        # shared across several rankings) — boundaries are of the KEY
        # domain, i.e. already negated for descending rankings
        bnds = sorted(set(boundaries))
    bucketed = df.withColumn("_k", key).withColumn(
        "_bkt", bucket_of("_k", bnds)
    )
    offsets = (
        bucketed.groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("_tot", F.sum("_n").over(Window.partitionBy()))
        .select("_bkt", "_off", "_tot")
    )
    wl = Window.partitionBy("_bkt").orderBy("_k", id_col)
    rn = F.col("_off") + F.row_number().over(wl)
    q = F.floor(F.col("_tot") / k)
    r = F.col("_tot") % k
    head = r * (q + 1)
    score = F.when(
        rn <= head, F.floor((rn - 1) / (q + 1)) + 1
    ).otherwise(r + F.floor((rn - head - 1) / q) + 1)
    return (
        bucketed.join(F.broadcast(offsets), on="_bkt")
        .withColumn(out, score.cast("int"))
        .drop("_k", "_bkt", "_off", "_tot")
    )


def q137_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile-score every ordering
    customer on Recency (days since their last order, vs the corpus'
    latest order date), Frequency (order count) and Monetary (total
    spend), then report each (R,F,M) cell's size and exact average
    spend — the classic warehouse segmentation rollup.

    Determinism: every quartile orders by (metric, custkey), so tied
    metrics split identically in any engine; spend stays decimal(18,2)
    until the final integer-cent average. Scale shape: one partial
    agg to a per-customer row, ONE multi-column approxQuantile pass
    probes all three metrics' bucket boundaries, then three
    independent ``_global_ntile`` rankings read the PERSISTED frame
    (thin (custkey, score) outputs joined at the end) — no single-task
    global window ever materializes, and no ranking re-evaluates
    another's plan (the oracle's bare NTILE is the semantics
    statement, not the plan)."""
    from ..caching import persist_tracked

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
    )
    maxd = per_cust.agg(F.max("last_order").alias("corpus_last"))
    scored = persist_tracked(
        per_cust.crossJoin(F.broadcast(maxd)).select(
            "o_custkey",
            F.datediff("corpus_last", "last_order").alias("recency_d"),
            "freq",
            "spend",
            F.col("spend").cast("double").alias("spend_d"),
        )
    )
    probs = [i / 16 for i in range(1, 16)]
    b_r, b_f, b_m = scored.approxQuantile(
        ["recency_d", "freq", "spend_d"], probs, 0.01
    )
    r = _global_ntile(
        scored.select("o_custkey", "recency_d"),
        "recency_d",
        "o_custkey",
        4,
        "r_score",
        boundaries=b_r,
    ).select("o_custkey", "r_score")
    f = _global_ntile(
        scored.select("o_custkey", "freq"),
        "freq",
        "o_custkey",
        4,
        "f_score",
        ascending=False,
        boundaries=[-x for x in b_f],
    ).select("o_custkey", "f_score")
    m = _global_ntile(
        scored.select("o_custkey", "spend"),
        "spend",
        "o_custkey",
        4,
        "m_score",
        ascending=False,
        boundaries=[-x for x in b_m],
    ).select("o_custkey", "m_score", "spend")
    cells = r.join(f, "o_custkey").join(m, "o_custkey")
    # cent-exact average: ROUND(double, 2) diverges across engines on
    # true half-cent midpoints (sum/n CAN be x.445 exactly), so the
    # rounding runs in INTEGER cents — (2·sum_cents + n) div (2n) is
    # round-half-up of sum_cents/n — and only the final /100 is float
    return (
        cells.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum((F.col("spend") * 100).cast("long")).alias("sc"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            (
                F.expr(
                    "CAST((2 * sc + n_customers)"
                    " DIV (2 * n_customers) AS BIGINT)"
                ).cast("double")
                / 100
            ).alias("avg_spend"),
        )
    )


def q138_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket brand affinity: for every pair of part brands
    co-purchased in ≥5 orders, the lift
    P(b1,b2) / (P(b1)·P(b2)) — the cross-sell signal behind "brands
    bought together". Counts stay integers; the lift is one final
    rounded double of exact integers (the q127 discipline).

    Scale shape: orders collapse to DISTINCT (order, brand) rows
    first (25 brands cap the per-order set), the pair fan-out is a
    self-equi-join on the order key — bounded at 25²/2 rows per order
    — and brand marginals broadcast onto the tiny pair table."""
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = persist_tracked(
        li.join(
            F.broadcast(p),
            li.l_partkey == p.p_partkey,
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.agg(
        F.count_distinct("l_orderkey").alias("n_ord")
    )
    bc = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("c"))
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand1"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand2"))
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand1") < F.col("brand2"))
        .groupBy("brand1", "brand2")
        .agg(F.count(F.lit(1)).alias("co_orders"))
        .filter(F.col("co_orders") >= 5)
    )
    return (
        co.join(
            F.broadcast(bc.select(F.col("p_brand").alias("brand1"),
                                  F.col("c").alias("c1"))),
            "brand1",
        )
        .join(
            F.broadcast(bc.select(F.col("p_brand").alias("brand2"),
                                  F.col("c").alias("c2"))),
            "brand2",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand1",
            "brand2",
            "co_orders",
            F.round(
                F.col("co_orders").cast("double")
                * F.col("n_ord").cast("double")
                / (
                    F.col("c1").cast("double")
                    * F.col("c2").cast("double")
                ),
                6,
            ).alias("lift"),
        )
    )


# q140's candidate FDs: one trivially-true PK dependency as the
# control row, one true dimensional hierarchy, and two expected
# violations — the discovery-shaped output a profiler emits.
_FD_CANDIDATES = (
    ("nation", "n_nationkey", "n_regionkey"),
    ("documents", "doc_id", "lang"),
    ("documents", "source", "lang"),
    ("orders", "o_custkey", "o_orderpriority"),
)


def q140_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate X → Y, how many
    X-groups exist, how many carry more than one distinct Y (the
    violations), and the worst group's distinct-Y count — the profiler
    pass that discovers real constraints before they're assumed by a
    MERGE or a dimension build (q115 checks DECLARED constraints; this
    one measures candidate ones).

    Scale shape: each candidate is ONE partial-agg groupBy collapsing
    the table to (x, distinct-y) group rows, then a scalar agg of that
    group table; candidates union into a 4-row result."""
    parts = []
    for table, lhs, rhs in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.count_distinct(rhs).alias("k"))
        parts.append(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("k") > 1).cast("long")).alias(
                    "n_violating_groups"
                ),
                F.max("k").alias("max_distinct_rhs"),
            ).select(
                F.lit(f"{table}.{lhs} -> {rhs}").alias("fd"),
                "n_groups",
                "n_violating_groups",
                "max_distinct_rhs",
                (F.col("max_distinct_rhs") == 1).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q150_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC revenue classification: customers ranked by spend,
    classed A while the running revenue share is ≤ 80%, B to ≤ 95%, C
    after — the classic "which 20% of customers carry 80% of revenue"
    rollup. Output per class: customer count, revenue, revenue share.

    Scale shape: the global cumulative sum — normally a single-task
    ORDER BY window — runs as the q65 two-phase rewrite applied to
    SUM: sampled boundaries bucket customers by spend, each bucket
    cumsums locally (decimal-exact), and broadcast per-bucket revenue
    offsets lift local prefix sums to global ones. Class cuts compare
    INTEGER cents (5·cum ≤ 4·total for A, 20·cum ≤ 19·total for B),
    so the classification is bit-exact at any parallelism."""
    from ..caching import persist_tracked

    o = load_table(spark, sf_dir, "orders")
    rev = persist_tracked(
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "spend"
            )
        )
        .select(
            "o_custkey",
            "spend",
            (F.col("spend") * 100).cast("long").alias("cents"),
            (-F.col("spend").cast("double")).alias("_k"),
        )
    )
    bucketed = rev.withColumn(
        "_bkt", bucket_of("_k", quantile_bounds(rev, "_k", n=16))
    )
    offsets = (
        bucketed.groupBy("_bkt")
        .agg(F.sum("cents").alias("_bc"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_bc").over(
                    Window.orderBy("_bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("_tot", F.sum("_bc").over(Window.partitionBy()))
        .select("_bkt", "_off", "_tot")
    )
    wl = Window.partitionBy("_bkt").orderBy("_k", "o_custkey")
    cum = (
        bucketed.withColumn(
            "_lc",
            F.sum("cents").over(
                wl.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .join(F.broadcast(offsets), "_bkt")
        .select(
            "spend",
            "cents",
            (F.col("_off") + F.col("_lc")).alias("cum_cents"),
            "_tot",
        )
    )
    classed = cum.select(
        "cents",
        "_tot",
        F.when(5 * F.col("cum_cents") <= 4 * F.col("_tot"), F.lit("A"))
        .when(20 * F.col("cum_cents") <= 19 * F.col("_tot"), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum("cents").cast("double") / 100).alias("revenue"),
        F.round(
            F.sum("cents").cast("double") / F.max("_tot").cast("double"),
            6,
        ).alias("revenue_share"),
    )


# q164 cutoff: the "yesterday's run" snapshot boundary
# (2024-01-16T00:00:00Z as epoch micros; all clock math in integer
# microseconds, the q134 convention).
_RESTATE_CUTOFF_US = 1_705_363_200_000_000


def _us_sessions(ev: DataFrame) -> DataFrame:
    """Gap-sessionize (4 h, q31's rule) on epoch-microsecond columns:
    one row per (user_id, session_start) with end + event count."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = ev.withColumn(
        "ns",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > SESSION_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sid = marked.withColumn(
        "sid",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sid.groupBy("user_id", "sid").agg(
        F.min("us").alias("st"),
        F.max("us").alias("en"),
        F.count(F.lit(1)).alias("c"),
    )


def q176_incremental_mv_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental materialized-view maintenance audit: a per
    (event_type, day) count/sum view built as snapshot-aggregate PLUS
    late-batch delta (the incremental path every warehouse refresh
    takes) must equal the full recompute, group by group. q164 audits
    the one aggregation where incremental maintenance is UNSAFE
    (sessionization); this certifies the additive case — counts and
    decimal-exact sums merge losslessly, so every mismatch counter in
    the output must be zero and `groups_match` must be true.

    Scale shape: three partial-agg shuffles on (event_type, day) —
    two of them over disjoint slices of one scan — then a full-outer
    join of two view-sized frames and a scalar rollup. The audit
    costs the view size, never the event log."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("us"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )

    def view(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias(f"c_{tag}"),
            F.sum("v").alias(f"s_{tag}"),
        )

    base = view(ev.filter(F.col("us") <= _RESTATE_CUTOFF_US), "b")
    delta = view(ev.filter(F.col("us") > _RESTATE_CUTOFF_US), "d")
    incr = (
        base.join(delta, ["event_type", "day"], "full_outer")
        .select(
            "event_type",
            "day",
            (
                F.coalesce("c_b", F.lit(0)) + F.coalesce("c_d", F.lit(0))
            ).alias("c_i"),
            (
                F.coalesce("s_b", F.lit(0).cast("decimal(18,6)"))
                + F.coalesce("s_d", F.lit(0).cast("decimal(18,6)"))
            ).alias("s_i"),
        )
    )
    full = view(ev, "f")
    cmp = full.join(incr, ["event_type", "day"], "full_outer")
    return cmp.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            (F.col("c_f").isNull() | F.col("c_i").isNull()).cast("long")
        ).alias("n_missing"),
        F.sum(
            (F.col("c_f") != F.col("c_i")).cast("long")
        ).alias("n_count_mismatch"),
        F.sum(
            (F.col("s_f") != F.col("s_i")).cast("long")
        ).alias("n_sum_mismatch"),
    ).select(
        "n_groups",
        "n_missing",
        "n_count_mismatch",
        "n_sum_mismatch",
        (
            (F.col("n_missing") == 0)
            & (F.col("n_count_mismatch") == 0)
            & (F.col("n_sum_mismatch") == 0)
        ).alias("groups_match"),
    )


def q164_session_restatement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental-recompute restatement audit: sessionize the event
    log as of a snapshot cutoff, sessionize the full log, and classify
    every session by what late-arriving data did to it — `unchanged`
    (same end, same events), `extended` (the gap a batch job thought
    closed a session actually didn't — THE correctness hazard of
    incremental sessionization), `new` (entirely post-cutoff), and
    `vanished` (a sanity class that must stay empty: appending
    later-timestamped events can never delete a session start). This
    is the audit that tells a warehouse whether yesterday's
    materialized sessions can be appended to or must be re-stated.

    Scale shape: two single-shuffle sessionization windows (both
    hash-partitioned by user_id — the q31 plan), then one join keyed
    (user_id, session_start); the classification collapses to ≤4 rows
    in a final partial agg. The snapshot side filters BEFORE its
    window, so it scans the same data once, not twice."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    s1 = _us_sessions(
        ev.filter(F.col("us") <= _RESTATE_CUTOFF_US)
    ).select(
        "user_id", "st", F.col("en").alias("en1"), F.col("c").alias("c1")
    )
    s2 = _us_sessions(ev).select(
        "user_id", "st", F.col("en").alias("en2"), F.col("c").alias("c2")
    )
    status = (
        F.when(F.col("c1").isNull(), F.lit("new"))
        .when(F.col("c2").isNull(), F.lit("vanished"))
        .when(
            (F.col("en1") == F.col("en2"))
            & (F.col("c1") == F.col("c2")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("extended"))
    )
    return (
        s2.join(s1, ["user_id", "st"], "full_outer")
        .select("user_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# q161's Benford machinery. First significant digit via integer-cents
# string math (CAST(ROUND(price*100) AS BIGINT) — exact for 2-decimal
# money, and integer→string is engine-identical, unlike double→string
# or log10-of-double digit extraction which can misplace exact powers
# of 10). Expected shares are log10(1 + 1/d) snapped to 9 decimals;
# each cell's chi-square contribution follows the q124 convention
# (double chain over exact counts, ROUND 6, decimal-cast, exact SUM).
_BEN_DIGIT = (
    "CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    " AS STRING), 1, 1) AS INT)"
)
_BEN_P = "ROUND(log10(1.0 + 1.0 / digit), 9)"
_BEN_CONTRIB = (
    "CAST(ROUND((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)"
    " * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)"
    " / (CAST(n AS DOUBLE) * p), 6) AS DECIMAL(18,6))"
)


def q161_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the forensic
    data-quality screen for fabricated or machine-generated amounts
    (natural multi-scale amounts follow P(d) = log10(1+1/d); uniform
    generators don't). Output: one row per leading digit with observed
    count/share, the Benford expectation, the cell's chi-square
    contribution, and the table-level statistic + mean-absolute-
    deviation repeated per row (the two standard conformity measures).
    This synthetic generator draws prices uniformly, so the audit
    CORRECTLY screams — digits 1–4 carry ~10x the share of 5–9.

    Scale shape: the table collapses to ≤9 digit cells in one
    partial-agg shuffle; every statistic is arithmetic on that 9-row
    frame (broadcast scalar joins, q124's exact-sum convention)."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.select(F.expr(_BEN_DIGIT).alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    tot = cells.agg(F.sum("o").alias("n"))
    scored = (
        cells.crossJoin(F.broadcast(tot))
        .withColumn("p", F.expr(_BEN_P))
        .withColumn("contrib", F.expr(_BEN_CONTRIB))
    )
    stats = scored.agg(
        F.sum("contrib").cast("double").alias("chi2"),
        F.round(
            F.sum(
                F.abs(
                    F.round(
                        F.col("o").cast("double") / F.col("n"), 6
                    )
                    - F.col("p")
                ).cast("decimal(18,9)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mad"),
    )
    return scored.crossJoin(F.broadcast(stats)).select(
        "digit",
        "o",
        F.round(F.col("o").cast("double") / F.col("n"), 6).alias(
            "observed_share"
        ),
        F.col("p").alias("benford_share"),
        F.col("contrib").cast("double").alias("contrib"),
        "chi2",
        "mad",
    )


# q155's AUC from the rank-sum: AUC = (R1 − n1(n1+1)/2) / (n1·n0) with
# R1 the tie-averaged rank sum of positives. r2 carries 2·R1 so ties
# stay integral (a tie group's doubled average rank 2·off + cnt + 1 is
# always an integer). One shared double chain over the exact integer
# aggregates (q122 convention); CASE-guarded because a single-class
# label leaves AUC undefined (and ANSI Spark would raise on the
# 0-division against partial-aggregate rows).
_AUC = (
    "CASE WHEN n_pos > 0 AND n_all - n_pos > 0 THEN"
    " ROUND((CAST(r2 AS DOUBLE)"
    " - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1))"
    " / (2 * CAST(n_pos AS DOUBLE) * CAST(n_all - n_pos AS DOUBLE)), 6)"
    " ELSE NULL END"
)


def q155_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC (Mann–Whitney U) of document length as a classifier of
    the English label — the model-evaluation primitive every
    quality-scoring pipeline needs (rank a heuristic score against a
    trusted label WITHOUT picking a threshold). Ties get the textbook
    averaged rank, so the statistic equals sklearn's roc_auc_score
    exactly. Output: one row with class sizes, AUC, and the Gini
    coefficient 2·AUC − 1; AUC ≈ 0.5 here is itself the finding (length
    does not separate English from non-English in this corpus).

    Scale shape: the corpus collapses to one row PER DISTINCT SCORE in
    a single partial-agg shuffle (cnt + positives per score); the rank
    offsets run as the q150 two-phase rewrite (VERDICT r05 #2) — 31
    sampled score boundaries bucket the score-distinct frame, each
    bucket cumsums locally in parallel (window partitioned by bucket),
    and the per-bucket count totals stitch global offsets through a
    broadcast triangular self-join on the ≤33-row bucket frame — so NO
    unpartitioned window exists even if the score domain grows with
    corpus richness (distinct n_chars at 100 TB is plausibly 10⁵-10⁶).
    The doubled rank-sum r2 accumulates in decimal(20,0) terms (q135
    convention: HUGEINT on the oracle side) because 2·R1 is O(n²) and
    would overflow BIGINT long before 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    g = lab.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )

    bnds = quantile_bounds(g, "score")
    bucketed = g.withColumn("_bkt", bucket_of("score", bnds))
    bs = bucketed.groupBy("_bkt").agg(F.sum("cnt").alias("bc"))
    offs = bucket_offsets(bs, {"boff": (F.sum, "bc")})
    wl = Window.partitionBy("_bkt").orderBy("score")
    r = bucketed.join(F.broadcast(offs), "_bkt").withColumn(
        "off",
        F.col("boff")
        + F.coalesce(
            F.sum("cnt").over(wl.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    a = r.agg(
        F.sum(
            F.col("pos").cast("decimal(20,0)")
            * (2 * F.col("off") + F.col("cnt") + 1)
        ).alias("r2"),
        F.sum("pos").alias("n_pos"),
        F.sum("cnt").alias("n_all"),
    )
    return a.select(
        "n_pos",
        (F.col("n_all") - F.col("n_pos")).alias("n_neg"),
        F.expr(_AUC).alias("auc"),
        F.expr(f"ROUND(2 * ({_AUC}) - 1, 6)").alias("gini"),
    )


def q152_amount_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table financial reconciliation: does each order's header
    total equal the sum of its line charges (extprice × (1+tax) ×
    (1−discount))? The audit every warehouse runs before trusting
    revenue numbers — and on THIS generator it correctly reports that
    the identity does NOT hold (header totals are drawn independently
    of line items), which is precisely what the audit exists to
    surface. Output per order priority: order count, orders without
    lines, mismatches beyond a 5-cent tolerance, and the total /
    worst absolute delta.

    Exactness: line charges snap to decimal(18,6) — the 3-factor
    product of 2-decimal inputs has EXACTLY 6 true decimals, so the
    cast recovers the true value in both engines (scale 4 would round
    at a digit where true half-way points exist and the engines'
    double→decimal rounding disagrees) — the header stays
    decimal(18,2), and the delta/tolerance compare runs in decimal —
    no float enters any comparison; only the two reported magnitudes
    are final rounded doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    charged = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 + F.col("l_tax"))
                * (1 - F.col("l_discount"))
            ).cast("decimal(18,6)")
        ).alias("charged")
    )
    j = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("tp"),
    ).join(
        charged, o.o_orderkey == charged.l_orderkey, "left"
    )
    delta = F.abs(F.col("tp") - F.col("charged"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("charged").isNull().cast("long")).alias("n_no_lines"),
        F.sum(
            (delta > F.lit("0.05").cast("decimal(18,6)")).cast("long")
        ).alias("n_mismatched"),
        # no ROUND: the scale-4 decimal sums convert to double EXACTLY
        # (value*10^4 is an integer far below 2^53), while rounding to
        # cents would hit true half-cent midpoints where the engines'
        # ROUND(double) disagree
        F.sum(delta).cast("double").alias("sum_abs_delta"),
        F.max(delta).cast("double").alias("max_abs_delta"),
    )


def q196_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision–recall curve, step
    interpolation: AP = Σ_k P(k)·rel(k) / R) of the q155 ranking —
    the PR-side complement of q155's ROC AUC, and the metric that
    actually moves when the positive class is rare (ROC AUC is
    prevalence-blind; retrieval and filter-model evaluations report
    AP). The ranking is the explicit total order (score DESC, doc_id
    ASC), so ties are resolved identically on both engines. Output:
    one row — n_docs, n_pos, avg_precision.

    Scale shape: the two prefix scans AP needs (global rank k and
    cumulative positives cp at k) run as the q150 two-phase bucketed
    rewrite — rows bucket on sampled score boundaries, each bucket
    cumsums locally (window partitioned by bucket), and per-bucket
    (count, positive) totals stitch global offsets through a broadcast
    triangular join — no unpartitioned window at any corpus size. Each
    positive's P(k) = cp/k is one rounded-decimal term (q124
    convention), so the final sum is exact and order-independent."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.col("n_chars").cast("double").alias("_sd"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    bnds = quantile_bounds(base, "_sd")
    bucketed = base.withColumn("_bkt", bucket_of("_sd", bnds))
    bs = bucketed.groupBy("_bkt").agg(
        F.count(F.lit(1)).alias("bn"), F.sum("y").alias("bp")
    )
    # DESC ranking: a bucket's offset is the mass of HIGHER buckets
    offs = bucket_offsets(
        bs, {"roff": (F.sum, "bn"), "poff": (F.sum, "bp")}, desc=True
    )
    wl = Window.partitionBy("_bkt").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    r = (
        bucketed.join(F.broadcast(offs), "_bkt")
        .withColumn("k", F.col("roff") + F.row_number().over(wl))
        .withColumn(
            "cp",
            F.col("poff")
            + F.sum("y").over(
                wl.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    contrib = r.select(
        "y",
        F.expr(
            "CASE WHEN y = 1 THEN CAST(ROUND(CAST(cp AS DOUBLE)"
            " / CAST(k AS DOUBLE), 9) AS DECIMAL(18,9))"
            " ELSE CAST(0 AS DECIMAL(18,9)) END"
        ).alias("pk"),
    )
    return contrib.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").alias("n_pos"),
        F.expr(
            "CASE WHEN SUM(y) > 0 THEN ROUND(CAST(SUM(pk) AS DOUBLE)"
            " / CAST(SUM(y) AS DOUBLE), 6) ELSE NULL END"
        ).alias("avg_precision"),
    )


def q197_gini_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split finder: the threshold on document length
    that minimizes weighted Gini impurity against the English label —
    the inner loop of every tree learner (and of threshold selection
    for quality-filter heuristics: "where should the length cutoff
    sit?"). Candidates are every distinct score with a non-empty right
    side; ties on impurity break to the smallest threshold, so the
    argmin is deterministic on both engines. Output: one row — the
    split, its left/right sizes and positive counts, the impurity.

    Scale shape: the corpus collapses to one row per distinct score in
    one partial-agg shuffle; left-side prefix sums (n_l, pos_l) run as
    the q150 two-phase bucketed rewrite (no unpartitioned window); the
    argmin is a TakeOrderedAndProject top-1 (per-partition top-1, no
    global sort materialization). The impurity double chain runs from
    exact integer prefix sums in one shared SQL string, rounded to 9
    (identical bits both engines), so the ordering itself is exact."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select(
            F.col("n_chars").alias("score"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos"))
        .withColumn("_sd", F.col("score").cast("double"))
    )
    bnds = quantile_bounds(g, "_sd")
    bucketed = g.withColumn("_bkt", bucket_of("_sd", bnds))
    bs = bucketed.groupBy("_bkt").agg(
        F.sum("cnt").alias("bn"), F.sum("pos").alias("bp")
    )
    offs = bucket_offsets(bs, {"noff": (F.sum, "bn"), "poff": (F.sum, "bp")})
    tot = bs.agg(
        F.sum("bn").alias("n_total"), F.sum("bp").alias("p_total")
    )
    wl = Window.partitionBy("_bkt").orderBy("score")
    r = (
        bucketed.join(F.broadcast(offs), "_bkt")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "nl",
            F.col("noff")
            + F.sum("cnt").over(
                wl.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "pl",
            F.col("poff")
            + F.sum("pos").over(
                wl.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("nl") < F.col("n_total"))  # non-empty right side
    )
    scored = r.select(
        F.col("score").alias("split_score"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        (F.col("n_total") - F.col("nl")).alias("n_right"),
        (F.col("p_total") - F.col("pl")).alias("pos_right"),
        F.expr(_GINI_SPLIT).alias("gini"),
    )
    return scored.orderBy("gini", "split_score").limit(1)


# weighted Gini of a binary split, evaluated from the exact integer
# prefix sums in ONE shared SQL string: (n_l/N)·g_l + (n_r/N)·g_r with
# g = 1 − (pos² + neg²)/n² collapses to
# (n_l − (pos_l² + neg_l²)/n_l + n_r − (pos_r² + neg_r²)/n_r) / N.
# Squares go through DOUBLE before multiplying (BIGINT² would overflow
# at trillion-row counts); identical expression tree → identical bits.
_GINI_SPLIT = (
    "ROUND((CAST(nl AS DOUBLE)"
    " - (CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)"
    "  + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE))"
    "   / CAST(nl AS DOUBLE)"
    " + CAST(n_total - nl AS DOUBLE)"
    " - (CAST(p_total - pl AS DOUBLE) * CAST(p_total - pl AS DOUBLE)"
    "  + CAST((n_total - nl) - (p_total - pl) AS DOUBLE)"
    "  * CAST((n_total - nl) - (p_total - pl) AS DOUBLE))"
    "   / CAST(n_total - nl AS DOUBLE))"
    " / CAST(n_total AS DOUBLE), 9)"
)


def q203_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: do two quality heuristics (A: char
    length ≥ 120; B: token count ≥ 25) disagree with the English label
    in systematically different ways? The PAIRED comparison is the
    correct test when both classifiers score the SAME documents — the
    two-sample z-test (q153) would ignore the pairing and waste power.
    This is the readout for "is the new filter actually better than
    the old one on this corpus?". χ² = (n10−n01)²/(n10+n01) over the
    discordant pairs only; the p<0.05 verdict is tested
    multiplied-through in exact integers (χ²₁ > 3.8415 ⇔
    10000·(n10−n01)² > 38415·(n10+n01) — the q193 no-float gate).
    Output: one row — N, per-classifier accuracy, both discordant
    counts, χ², verdict.

    Scale shape: one pass, one aggregate — every count is a
    conditional sum in a single partial-agg; no joins, no windows."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        (F.col("lang") == "en").alias("y"),
        (F.col("n_chars") >= 120).alias("a"),
        (F.size(TX.tokens("text")) >= 25).alias("b"),
    )
    g = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("a") == F.col("y")).cast("long")).alias("n_a_correct"),
        F.sum((F.col("b") == F.col("y")).cast("long")).alias("n_b_correct"),
        F.sum(
            ((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")))
            .cast("long")
        ).alias("n10"),
        F.sum(
            ((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")))
            .cast("long")
        ).alias("n01"),
    )
    return g.select(
        "n_docs",
        "n_a_correct",
        "n_b_correct",
        "n10",
        "n01",
        F.expr(
            "CASE WHEN n10 + n01 > 0 THEN"
            " ROUND(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)"
            " / (n10 + n01), 6) ELSE NULL END"
        ).alias("chi2"),
        F.expr(
            "10000 * (n10 - n01) * (n10 - n01) > 38415 * (n10 + n01)"
        ).alias("significant"),
    )


def q204_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of a [0,1] quality score (clamped char length
    / 200 as the probability the doc is English): 10 fixed-width bins,
    each reporting mean predicted probability vs observed rate plus
    its Brier contribution — the reliability-diagram table every
    quality-model deployment watches (a filter whose 0.9-bin converts
    at 0.6 is miscalibrated regardless of its AUC; q155/q196 can't see
    that). Output: one row per non-empty bin.

    Exactness: the score is the rational m/200 with m integral, so the
    per-row Brier term (m/200 − y)² = (m − 200y)²/200² has an INTEGER
    numerator — every column is integer sums until one final division
    (the q127 discipline). Scale shape: one pass, one partial-agg
    shuffle onto ≤10 bin rows."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        F.least(F.col("n_chars"), F.lit(200)).alias("m"),
        (F.col("lang") == "en").cast("long").alias("y"),
    ).select(
        "m",
        "y",
        F.expr("CAST(least(m * 10 DIV 200, 9) AS INT)").alias("bin"),
    )
    g = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("m").alias("sm"),
        F.sum("y").alias("sy"),
        F.sum(
            (F.col("m") - 200 * F.col("y"))
            * (F.col("m") - 200 * F.col("y"))
        ).alias("sq"),
    )
    return g.select(
        "bin",
        "n_docs",
        F.expr(
            "ROUND(CAST(sm AS DOUBLE) / (200 * n_docs), 6)"
        ).alias("avg_pred"),
        F.expr(
            "ROUND(CAST(sy AS DOUBLE) / n_docs, 6)"
        ).alias("obs_rate"),
        F.expr(
            "ROUND(CAST(sq AS DOUBLE) / (40000 * n_docs), 6)"
        ).alias("brier"),
    )


def q205_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized mean of document length: clamp each
    source's lengths to its own exact type-1 [P5, P95] before
    averaging — the robust per-feed size metric that one viral
    long-form page (or a truncation bug flooding 10-char docs) cannot
    drag around, reported next to the raw mean so the gap itself
    flags tail weight. Quantile contract: k-th smallest with
    k = ceil(q·n) in INTEGER arithmetic, ties broken by doc_id (the
    q95 convention), so both engines pick identical cut values.
    Output: one row per source — n, P5, P95, raw and winsorized means.

    Scale shape: rows bucket on ONE global boundary probe; ranks run
    bucket-local windows partitioned by (source, bucket) with
    per-(source,bucket) offsets stitched through a broadcast
    triangular join (the q150 rewrite with a composite key — no
    per-source single-partition window even when one feed dominates
    the corpus); the cut rows are a source-count-sized broadcast."""
    from ..caching import persist_tracked

    d = persist_tracked(
        load_table(spark, sf_dir, "documents").select(
            "source", "doc_id", "n_chars"
        )
    )
    b = d.withColumn("_kd", F.col("n_chars").cast("double"))
    bnds = quantile_bounds(b, "_kd")
    bk = b.withColumn("_bkt", bucket_of("_kd", bnds))
    bs = bk.groupBy("source", "_bkt").agg(F.count(F.lit(1)).alias("bn"))
    offs = bucket_offsets(bs, {"boff": (F.sum, "bn")}, by=("source",))
    tot = bs.groupBy("source").agg(F.sum("bn").alias("ns"))
    wl = Window.partitionBy("source", "_bkt").orderBy("n_chars", "doc_id")
    ranked = (
        bk.join(F.broadcast(offs), ["source", "_bkt"])
        .withColumn("gr", F.col("boff") + F.row_number().over(wl))
        .join(F.broadcast(tot), "source")
    )
    cuts = (
        ranked.filter(
            (F.col("gr") == F.expr("(5 * ns + 99) DIV 100"))
            | (F.col("gr") == F.expr("(95 * ns + 99) DIV 100"))
        )
        .groupBy("source")
        .agg(
            F.max(
                F.when(
                    F.col("gr") == F.expr("(5 * ns + 99) DIV 100"),
                    F.col("n_chars"),
                )
            ).alias("p5"),
            F.max(
                F.when(
                    F.col("gr") == F.expr("(95 * ns + 99) DIV 100"),
                    F.col("n_chars"),
                )
            ).alias("p95"),
        )
    )
    w = d.join(F.broadcast(cuts), "source").select(
        "source",
        "p5",
        "p95",
        "n_chars",
        F.greatest(
            F.col("p5"), F.least(F.col("n_chars"), F.col("p95"))
        ).alias("cv"),
    )
    return w.groupBy("source", "p5", "p95").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            "ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)"
        ).alias("raw_mean"),
        F.expr(
            "ROUND(CAST(SUM(cv) AS DOUBLE) / COUNT(*), 6)"
        ).alias("winsorized_mean"),
    )


# q217: Pearson correlations of the four lineitem money/ratio columns
# from ONE pass of exact decimal sums — r = (n·Σxy − Σx·Σy) /
# sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)). Products of decimal(18,2)
# inputs carry 4 exact decimals; sums are order-independent; the float
# chain is one shared string per pair.
_CM_COLS = [
    ("qty", "l_quantity"),
    ("price", "l_extendedprice"),
    ("disc", "l_discount"),
    ("tax", "l_tax"),
]


def _corr_sql(a: str, b: str) -> str:
    num = (
        f"(CAST(n AS DOUBLE) * CAST(p_{a}_{b} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
    )
    den = (
        f"(sqrt(CAST(n AS DOUBLE) * CAST(p_{a}_{a} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        f" * sqrt(CAST(n AS DOUBLE) * CAST(p_{b}_{b} AS DOUBLE)"
        f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
    )
    return f"CASE WHEN {den} > 0 THEN ROUND({num} / {den}, 6) ELSE NULL END"


def q217_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of lineitem's quantity /
    price / discount / tax — the multi-column profiling companion to
    q111's per-column stats and the input a cost-based optimizer (or a
    feature-selection pass) wants before assuming column independence.
    Output: one row per unordered column pair — n and r.

    Scale shape: ONE partial-agg pass computes all 4 sums, 4 square
    sums, and 6 cross sums as exact decimals (no per-pair rescan — the
    1-row result is persisted and each pair projects from it); r is
    scalar math per pair, NULL when a column is constant."""
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem").select(
        *[F.col(c).cast("decimal(18,2)").alias(k) for k, c in _CM_COLS]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for k, _ in _CM_COLS:
        aggs.append(F.sum(F.col(k)).alias(f"s_{k}"))
    for i, (a, _) in enumerate(_CM_COLS):
        for b, _c in _CM_COLS[i:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"p_{a}_{b}"))
    one = persist_tracked(li.agg(*aggs))
    parts = []
    for i, (a, _) in enumerate(_CM_COLS):
        for b, _c in _CM_COLS[i + 1 :]:
            parts.append(
                one.select(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    "n",
                    F.expr(_corr_sql(a, b)).alias("r"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- round 8 batch 3: nonparametric rank statistics ---
# Mann-Whitney U, Spearman rho, Kruskal-Wallis H, Kendall tau-b,
# Theil-Sen slope. The shared trick: every rank is a VALUE-LEVEL
# quantity — midrank(v) = cum_before(v) + (ties(v)+1)/2 — so ranking
# needs only the per-distinct-value count frame (bounded by the value
# domain, not the corpus) and a cumulative window over that bounded
# grid. Doubled midranks (2·midrank, always integral) keep every rank
# sum a BIGINT; doubles appear once, in the final shared formula.


def _midrank2_frame(counts: DataFrame, extra: list[str]) -> DataFrame:
    """counts(v, cnt, *extra) -> + mr2 = 2·midrank(v) (exact BIGINT).

    The window runs over the DISTINCT-VALUE frame — bounded by the
    value domain (doc lengths, quantity levels), not the row count, so
    the single-partition cumsum is a bounded-grid scan at any corpus
    size (the q127 ECDF argument)."""
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    return counts.select(
        "v",
        "cnt",
        *extra,
        (
            2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("mr2"),
    )


# z-score of the U statistic from exact integer aggregates (tie-corrected
# variance); identical formula string on both engines, ONE sqrt of exact
# doubles (IEEE sqrt is correctly rounded, hence cross-engine-identical)
_MWU_Z = (
    "ROUND((CAST(u_a_x2 AS DOUBLE) / 2"
    " - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)"
    " / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12"
    "        * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)"
    "           - CAST(tt AS DOUBLE)"
    "             / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
    "                * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1))))"
    ", 6)"
)


def q251_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: did the single-digit sources
    (src0-src9) produce systematically longer documents than the
    double-digit ones? The workhorse nonparametric A/B test for skewed
    metrics (doc length, latency) where the t-test's normality
    assumption fails.

    Exactness: doubled midranks keep the rank sum R_A and the U
    statistic integral (2·U = 2·R_A − n_A(n_A+1)); the tie term
    Σ(t³−t) accumulates in DECIMAL(38,0) (a cube of a hot value's tie
    count can pass 2^63); the tie-corrected z divides exact doubles in
    one shared formula. Scale: one partial-agg shuffle to value-level
    counts, a bounded-domain cumsum, a 1-row reduce."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            F.col("n_chars").alias("v"),
            F.when(F.length("source") == 4, 1).otherwise(0).alias("a"),
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("a").alias("cnt_a"))
    )
    r = _midrank2_frame(counts, ["cnt_a"])
    cd = F.col("cnt").cast("decimal(20,0)")
    s = r.agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n_b"),
        F.sum(F.col("cnt_a") * F.col("mr2")).alias("r_a_x2"),
        F.sum(cd * cd * cd - cd).cast("decimal(38,0)").alias("tt"),
    )
    return s.select(
        "n_a",
        "n_b",
        "r_a_x2",
        (F.col("r_a_x2") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("bigint")
        .alias("u_a_x2"),
        F.expr(_MWU_Z).alias("z_score"),
    )


_SPEARMAN_RHO = (
    "ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
)


def q252_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between lineitem quantity and
    discount — "do bigger orders get bigger discounts?" asked
    monotonically, immune to the columns' scales. Pearson on midranks,
    computed WITHOUT ranking rows: both columns have bounded value
    domains (50 quantity levels × 11 discount levels), so the joint
    (qty, disc) cell-count frame plus each column's value-level
    midrank lookup (broadcast onto the cells) yields every power sum.
    Second moments accumulate in DECIMAL(38,0) (q135 convention — a
    BIGINT Σr² overflows ~2^63 at full scale); the rho formula divides
    their exact double images identically on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .alias("y"),
    )
    cells = li.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nc"))
    rx = _midrank2_frame(
        cells.groupBy(F.col("x").alias("v")).agg(F.sum("nc").alias("cnt")),
        [],
    ).select(F.col("v").alias("x"), F.col("mr2").alias("rx2"))
    ry = _midrank2_frame(
        cells.groupBy(F.col("y").alias("v")).agg(F.sum("nc").alias("cnt")),
        [],
    ).select(F.col("v").alias("y"), F.col("mr2").alias("ry2"))
    j = cells.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    rxd = F.col("rx2").cast("decimal(19,0)")
    ryd = F.col("ry2").cast("decimal(19,0)")
    s = j.agg(
        F.sum("nc").alias("n"),
        F.sum(F.col("nc") * F.col("rx2")).alias("sx"),
        F.sum(F.col("nc") * F.col("ry2")).alias("sy"),
        F.sum(F.col("nc") * (rxd * rxd)).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("nc") * (ryd * ryd)).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("nc") * (rxd * ryd)).cast("decimal(38,0)").alias("sxy"),
    )
    return s.select(
        "n", "sx", "sy", F.expr(_SPEARMAN_RHO).alias("spearman_rho")
    )


def q253_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: one-way rank ANOVA across ALL 20 sources'
    doc-length distributions — the k-group generalization of q251
    ("is any source's length profile shifted?"). Output: one row per
    source with its exact doubled rank sum and mean rank, plus the
    global tie-corrected H on every row (broadcast scalar).

    Exactness: midranks from the value-level frame as in q251; each
    source's R²/n term is a ROUND-9 double CAST to DECIMAL(28,9)
    before summing (the q124 per-term convention) so the H sum is
    order-independent; Σ(t³−t) in DECIMAL(38,0). Scale: value-level
    counts shuffle, a bounded-domain cumsum, one 20-row agg."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy(
        F.col("n_chars").alias("v"), "source"
    ).agg(F.count(F.lit(1)).alias("nc"))
    totals = cells.groupBy("v").agg(F.sum("nc").alias("cnt"))
    mr = _midrank2_frame(totals, []).select("v", "mr2", "cnt")
    per_src = (
        cells.join(F.broadcast(mr.select("v", "mr2")), "v")
        .groupBy("source")
        .agg(
            F.sum("nc").alias("n_j"),
            F.sum(F.col("nc") * F.col("mr2")).alias("r_x2"),
        )
    )
    # per-source H contribution: (R_j)^2 / n_j = (r_x2/2)^2 / n_j,
    # rounded to 9 decimals then summed exactly as decimal
    rd = F.col("r_x2").cast("decimal(19,0)")
    term = (
        F.round(
            (rd * rd).cast("decimal(38,0)").cast("double")
            / (4 * F.col("n_j")),
            9,
        )
        .cast("decimal(28,9)")
        .alias("term")
    )
    cd = F.col("cnt").cast("decimal(20,0)")
    glob = (
        per_src.select("n_j", term)
        .agg(F.sum("n_j").alias("nn"), F.sum("term").alias("sterm"))
        .crossJoin(
            F.broadcast(
                mr.agg(
                    F.sum(cd * cd * cd - cd)
                    .cast("decimal(38,0)")
                    .alias("tt")
                )
            )
        )
        .select(
            "nn",
            F.expr(
                "ROUND(12 * CAST(sterm AS DOUBLE)"
                " / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1))"
                " - 3 * (CAST(nn AS DOUBLE) + 1), 6)"
            ).alias("h_stat"),
            F.expr(
                "ROUND((12 * CAST(sterm AS DOUBLE)"
                " / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1))"
                " - 3 * (CAST(nn AS DOUBLE) + 1))"
                " / (1 - CAST(tt AS DOUBLE)"
                "     / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)"
                "        * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))), 6)"
            ).alias("h_corrected"),
        )
    )
    return per_src.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_j",
        "r_x2",
        F.expr(
            "ROUND(CAST(r_x2 AS DOUBLE) / (2 * CAST(n_j AS DOUBLE)), 6)"
        ).alias("mean_rank"),
        "h_stat",
        "h_corrected",
    )


_TAUB = (
    "ROUND((CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))"
    " / (sqrt((CAST(n0_x2 AS DOUBLE) - CAST(n1_x2 AS DOUBLE)) / 2)"
    "    * sqrt((CAST(n0_x2 AS DOUBLE) - CAST(n2_x2 AS DOUBLE)) / 2)), 6)"
)


def q254_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between lineitem quantity and discount: the
    concordant/discordant pair census, computed on the DENSE bounded
    (quantity × discount) grid instead of the O(n²) pair join — for
    cell (i,j), the pairs concordant with it are n_ij · Σ_{k>i,l>j}
    n_kl, and that double suffix sum is two cascaded windows over the
    ~550-cell grid (suffix-within-discount, then suffix-across-
    discounts). The value-domain grid is corpus-size-independent: the
    only full-data pass is the cell count.

    Exactness: everything integral — doubled tie terms n(n−1) stay
    even, C/D are exact BIGINTs, tau-b's denominator multiplies two
    IEEE sqrts of exact doubles in a shared formula string."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .alias("y"),
    )
    cells = li.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nc"))
    xs = cells.select("x").distinct()
    ys = cells.select("y").distinct()
    dense = (
        xs.crossJoin(F.broadcast(ys))
        .join(cells, ["x", "y"], "left")
        .fillna(0, subset=["nc"])
    )
    sfx_x = Window.partitionBy("y").orderBy("x").rowsBetween(
        1, Window.unboundedFollowing
    )
    g = dense.withColumn(
        "sx", F.coalesce(F.sum("nc").over(sfx_x), F.lit(0))
    )
    up_y = Window.partitionBy("x").orderBy("y").rowsBetween(
        1, Window.unboundedFollowing
    )
    dn_y = Window.partitionBy("x").orderBy(F.desc("y")).rowsBetween(
        1, Window.unboundedFollowing
    )
    g = g.withColumn(
        "cc", F.coalesce(F.sum("sx").over(up_y), F.lit(0))
    ).withColumn("dd", F.coalesce(F.sum("sx").over(dn_y), F.lit(0)))
    marg_x = cells.groupBy("x").agg(F.sum("nc").alias("m"))
    marg_y = cells.groupBy("y").agg(F.sum("nc").alias("m"))
    t1 = marg_x.agg(
        F.sum(F.col("m") * (F.col("m") - 1)).alias("n1_x2")
    )
    t2 = marg_y.agg(
        F.sum(F.col("m") * (F.col("m") - 1)).alias("n2_x2")
    )
    s = g.agg(
        F.sum("nc").alias("n"),
        F.sum(F.col("nc") * F.col("cc")).cast("bigint").alias("concordant"),
        F.sum(F.col("nc") * F.col("dd")).cast("bigint").alias("discordant"),
    )
    return (
        s.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "concordant",
            "discordant",
            (F.col("n") * (F.col("n") - 1)).cast("bigint").alias("n0_x2"),
            F.col("n1_x2").cast("bigint").alias("n1_x2"),
            F.col("n2_x2").cast("bigint").alias("n2_x2"),
            F.expr(_TAUB).alias("tau_b"),
        )
    )


def q255_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue: the (lower) median
    of all pairwise slopes between the ~82 calendar months — the
    median-based slope estimator that one outlier month cannot move
    (unlike q126's OLS fit). The pair frame is the calendar-bounded
    monthly grid self-joined (≤ a few thousand pairs at ANY corpus
    size — the grid, not the data, sets the cost), so the full-data
    work is one month-keyed partial agg.

    Exactness: monthly revenue is the BIGINT e4 ledger; each slope
    divides two exact integers (IEEE division — identical doubles both
    engines); the median is selected by (slope, m1, m2) order with
    row_number = (n+1) DIV 2, deterministic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").alias("mon")
    ).agg(
        F.sum(
            F.expr(
                "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
                " AS DECIMAL(18,4)) * 10000 AS BIGINT)"
            )
        ).alias("c4"),
        F.datediff(
            F.to_date(F.date_trunc("month", F.min("l_shipdate"))),
            F.lit("1995-01-01").cast("date"),
        ).alias("d"),
    )
    a = monthly.select(
        F.col("mon").alias("m1"), F.col("c4").alias("c1"),
        F.col("d").alias("d1"),
    )
    b = monthly.select(
        F.col("mon").alias("m2"), F.col("c4").alias("c2"),
        F.col("d").alias("d2"),
    )
    pairs = a.join(F.broadcast(b), F.col("d1") < F.col("d2")).select(
        "m1",
        "m2",
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.col("d2") - F.col("d1")).cast("double")
        ).alias("slope_e4"),
    )
    w = Window.orderBy("slope_e4", "m1", "m2")
    ranked = pairs.select(
        "m1",
        "m2",
        "slope_e4",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n_pairs"),
    )
    med = ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
    return med.select(
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.to_date("m1").alias("median_m1"),
        F.to_date("m2").alias("median_m2"),
        F.expr("ROUND(slope_e4 / 10000, 6)").alias("slope_per_day"),
    )


def q260_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling plan: allocate a fixed
    budget of 1000 sampled docs across the 20 sources proportional to
    N_h·S_h (stratum size × stratum std of n_chars) — the allocation
    that minimizes the variance of the estimated corpus mean, i.e. the
    design step BEFORE q52's stratified draw. Integer allocations come
    from the largest-remainder method, so they sum to the budget
    EXACTLY (floor every quota, then +1 to the largest fractional
    remainders) — a property proportional rounding does not have.

    Exactness: per-stratum variance numerator n·Σx² − (Σx)² in
    DECIMAL(38,0) (q135 convention); each weight w_h = N_h·S_h is a
    ROUND-9 double CAST to DECIMAL(28,9) so the total weight W is an
    order-independent exact sum; quotas/remainders are shared double
    formulas over those exact inputs; the remainder ranking (with
    source tiebreak) runs over the 20-row stratum frame — bounded by
    the stratum count, not the corpus. A zero total weight (every
    stratum has n_h <= 1) raises loudly on both engines instead of
    emitting NaN allocations."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("x")
    )
    xd = F.col("x").cast("decimal(19,0)")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("x").alias("s1"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("s2"),
    )
    # w_h = N_h * sample std (0 when the stratum cannot estimate one)
    _W = (
        "CASE WHEN n_h > 1 THEN CAST(n_h AS DOUBLE)"
        " * sqrt((CAST(n_h AS DOUBLE) * CAST(s2 AS DOUBLE)"
        "         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        "        / (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1)))"
        " ELSE 0.0 END"
    )
    wf = per.select(
        "source",
        "n_h",
        F.expr(f"CAST(ROUND({_W}, 9) AS DECIMAL(28,9))").alias("w"),
    )
    tot = wf.agg(F.sum("w").alias("ww"))
    # loud rejection (ADVICE r08): when EVERY stratum has n_h <= 1 all
    # weights are 0 and quota = x/0 would silently emit NaN garbage —
    # fail the job instead (_update_running_totals' convention)
    q = wf.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_h",
        F.expr(
            "1000 * CAST(w AS DOUBLE) / CAST("
            "CASE WHEN ww > 0 THEN ww"
            " ELSE raise_error('q260: total Neyman weight is zero"
            " (every stratum has n_h <= 1)') END AS DOUBLE)"
        ).alias("quota"),
    )
    q = q.select(
        "source",
        "n_h",
        "quota",
        F.floor("quota").alias("base"),
        (F.col("quota") - F.floor("quota")).alias("rem"),
    )
    leftover = q.agg(
        (F.lit(1000) - F.sum("base")).cast("bigint").alias("r")
    )
    w_rank = Window.orderBy(F.desc("rem"), "source")
    return (
        q.withColumn("rk", F.row_number().over(w_rank))
        .crossJoin(F.broadcast(leftover))
        .select(
            "source",
            F.col("n_h").cast("bigint").alias("n_h"),
            F.expr("ROUND(quota, 6)").alias("quota"),
            (
                F.col("base") + F.when(F.col("rk") <= F.col("r"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )


_WILC_Z = (
    "ROUND((CAST(w_pos_x2 AS DOUBLE) / 2"
    " - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 4)"
    " / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)"
    "        * (2 * CAST(n AS DOUBLE) + 1) / 24"
    "        - CAST(tt AS DOUBLE) / 48), 6)"
)


def q263_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test: did per-user spend SHIFT between the
    first and second half of the observation window? The paired twin
    of q251 (same user before/after, so between-user variance cancels)
    and the magnitude-aware upgrade of q203's sign-only McNemar.

    Pairs: per user, exact cent sums over each half (midpoint =
    integer mean of the global min/max event micros); zero diffs drop
    per the standard definition. Midranks of |d| come from the VALUE-
    LEVEL count frame — but unlike q251's length domain, |d| is NOT
    value-bounded, so the cumsum runs as the q65/q150 two-phase
    bucketed rewrite (quantile-bounded buckets, in-bucket windows,
    broadcast offset stitch) — no unpartitioned window over an
    unbounded domain. Doubled midranks keep W⁺ integral; Σ(t³−t) in
    DECIMAL(38,0); the tie-corrected z is one shared formula."""
    from ..caching import persist_tracked

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    mid = ev.agg(
        ((F.min("us") + F.max("us")) / 2).cast("bigint").alias("mid")
    )
    per = ev.crossJoin(F.broadcast(mid)).groupBy("user_id").agg(
        F.sum(
            F.when(F.col("us") <= F.col("mid"), F.col("cents")).otherwise(0)
        ).alias("s1"),
        F.sum(
            F.when(F.col("us") > F.col("mid"), F.col("cents")).otherwise(0)
        ).alias("s2"),
    )
    dd = per.filter(F.col("s1") != F.col("s2")).select(
        (F.col("s2") - F.col("s1")).alias("d")
    )
    vals = persist_tracked(
        dd.groupBy(F.abs(F.col("d")).alias("ad")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("cnt_pos"),
        )
        .withColumn("_kd", F.col("ad").cast("double"))
    )
    bnds = quantile_bounds(vals, "_kd")
    bk = vals.withColumn("_bkt", bucket_of("_kd", bnds))
    bs = bk.groupBy("_bkt").agg(F.sum("cnt").alias("bn"))
    offs = bucket_offsets(bs, {"loff": (F.sum, "bn")})
    wb = (
        Window.partitionBy("_bkt")
        .orderBy("ad")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = bk.join(F.broadcast(offs), "_bkt").select(
        "cnt",
        "cnt_pos",
        (
            2
            * (
                F.col("loff")
                + F.coalesce(F.sum("cnt").over(wb), F.lit(0))
            )
            + F.col("cnt")
            + 1
        ).alias("mr2"),
    )
    cd = F.col("cnt").cast("decimal(20,0)")
    s = r.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt_pos") * F.col("mr2")).cast("bigint")
        .alias("w_pos_x2"),
        F.sum(cd * cd * cd - cd).cast("decimal(38,0)").alias("tt"),
    )
    return s.select("n", "w_pos_x2", F.expr(_WILC_Z).alias("z_score"))


def q274_interpolated_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Type-7 (PERCENTILE_CONT) interpolated quartiles of doc length
    per source — the R/NumPy-default quantile definition, completing
    the quantile family (q205 exact type-1, q62 GK sketch, q268
    equi-depth boundaries): q_p = v⌈h⌉₊ interpolated with fraction
    h−⌊h⌋ where h = (n−1)p. Everything stays integral until one shared
    formula: h·100 = (n−1)·p100 is exact, lo = h100 DIV 100 + 1 is a
    1-based rank, and the interpolation weight is rem/100 of the
    integer value gap.

    Scale shape: ranks come from ONE window partitioned by source (the
    per-stratum contract); the 3-quantile target grid (sources × p)
    broadcasts against the ranked frame twice (rank lo, rank lo+1)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source",
        F.col("n_chars").alias("v"),
        F.row_number().over(w).alias("rn"),
    )
    ns = ranked.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ps = spark.range(1, 4).select((F.col("id") * 25).alias("p100"))
    targets = ns.crossJoin(F.broadcast(ps)).select(
        "source",
        "p100",
        "n",
        (
            ((F.col("n") - 1) * F.col("p100")) / 100
        ).cast("bigint").alias("lo0"),
        (((F.col("n") - 1) * F.col("p100")) % 100).alias("rem"),
    )
    r1 = ranked.select(
        F.col("source").alias("s1"),
        F.col("rn").alias("rn1"),
        F.col("v").alias("v1"),
    )
    r2 = ranked.select(
        F.col("source").alias("s2"),
        F.col("rn").alias("rn2"),
        F.col("v").alias("v2"),
    )
    j = (
        targets.join(
            r1,
            (F.col("source") == F.col("s1"))
            & (F.col("rn1") == F.col("lo0") + 1),
        )
        .join(
            r2,
            (F.col("source") == F.col("s2"))
            & (F.col("rn2") == F.col("lo0") + 2),
            "left",
        )
    )
    return j.select(
        "source",
        F.col("p100").cast("int").alias("p100"),
        "n",
        F.expr(
            "CAST(v1 AS DOUBLE)"
            " + CAST(rem AS DOUBLE) * (COALESCE(v2, v1) - v1) / 100"
        ).alias("q_value"),
    )


def q280_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman blocked rank ANOVA: does per-user spend DIFFER across
    the five event types, with each user as their own block? The
    blocked completion of the rank-test family (q251 two independent
    groups, q253 k independent groups, q263 paired two) — between-user
    spend level cancels because ranks are WITHIN user.

    Cells: per (user, type) total cents, dense over the user × type
    grid (a user with no 'error' events still ranks it, at 0).
    Midranks within each 5-row block; Conover's tie-robust statistic
    T1 = (k−1)·Σ_j(R_j − n(k+1)/2)² / (A − C) stays INTEGRAL end to
    end in doubled ranks: T1 = (k−1)·Σ(R2_j − n(k+1))² / (A2 −
    nk(k+1)²), one final division. Scale: one (user,type) partial agg,
    one 5-row-per-user block window, a k-row reduce (squares in
    DECIMAL(38,0) per q135)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    cells = ev.groupBy("user_id", "event_type").agg(
        F.sum("cents").alias("c")
    )
    users = cells.select("user_id").distinct()
    types = cells.select("event_type").distinct()
    dense = (
        users.crossJoin(F.broadcast(types))
        .join(cells, ["user_id", "event_type"], "left")
        .fillna(0, subset=["c"])
    )
    # midrank2 within the k-row block via the value-level trick on
    # (user, c): 2*cum_before + ties + 1
    blk = dense.groupBy("user_id", "c").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.collect_list("event_type").alias("_ts"),
    )
    wc = Window.partitionBy("user_id").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mr = blk.select(
        "user_id",
        "c",
        F.explode("_ts").alias("event_type"),
        (
            2 * F.coalesce(F.sum("cnt").over(wc), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("mr2"),
    )
    per_type = mr.groupBy("event_type").agg(F.sum("mr2").alias("r_x2"))
    m2d = F.col("mr2").cast("decimal(19,0)")
    glob = mr.agg(
        F.sum(m2d * m2d).cast("decimal(38,0)").alias("a2"),
        F.countDistinct("user_id").alias("n"),
        F.countDistinct("event_type").alias("k"),
    )
    rd = F.col("r_x2").cast("decimal(19,0)")
    stat = (
        per_type.crossJoin(F.broadcast(glob))
        .select(
            ((rd - F.col("n") * (F.col("k") + 1))
             * (rd - F.col("n") * (F.col("k") + 1)))
            .cast("decimal(38,0)")
            .alias("sq"),
            "n",
            "k",
            "a2",
        )
        .groupBy("n", "k", "a2")
        .agg(F.sum("sq").cast("decimal(38,0)").alias("s4"))
        .select(
            F.expr(
                "ROUND((CAST(k AS DOUBLE) - 1) * CAST(s4 AS DOUBLE)"
                " / (CAST(a2 AS DOUBLE) - CAST(n AS DOUBLE)"
                "    * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1)"
                "    * (CAST(k AS DOUBLE) + 1)), 6)"
            ).alias("chi2_f"),
            F.col("n").cast("bigint").alias("n_blocks"),
            F.col("k").cast("bigint").alias("k_treatments"),
        )
    )
    return per_type.select(
        "event_type", F.col("r_x2").cast("bigint").alias("r_x2")
    ).crossJoin(F.broadcast(stat))


def q281_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q: do the five event types differ in the rate at
    which a user FAVORS them — the k-treatment generalization of
    q203's McNemar (k=2 reduces to it), on binary per-(user, type)
    indicators "this type's count strictly exceeds the user's own
    per-type mean" (scale-free, so blocks stay informative at any sf;
    reach-style absolute indicators saturate — every user here touches
    all 5 types). Q = (k−1)·Σ_j(k·C_j − N)² / (k·(k·ΣR_i − ΣR_i²)) is
    pure integer arithmetic until one final division. The per-type
    column sums are densified against the full treatment set (left
    join + COALESCE 0, both sides), so a treatment nobody favors still
    contributes its N² numerator term and emits a row.

    Scale: one (user,type) partial-agg shuffle, then tiny reductions
    (per-type column sums; per-user row sums)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type"
    )
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_it")
    )
    tot = counts.groupBy("user_id").agg(F.sum("n_it").alias("tot_i"))
    kk = counts.agg(F.countDistinct("event_type").alias("k_"))
    # binary success: the user's count of this type STRICTLY exceeds
    # their own per-type mean (n_it·k > tot_i) — scale-free, so blocks
    # stay informative at any sf (an absolute threshold is not)
    x = (
        counts.join(tot, "user_id")
        .crossJoin(F.broadcast(kk))
        .filter(F.col("n_it") * F.col("k_") > F.col("tot_i"))
        .select("user_id", "event_type")
    )
    # densify against the FULL treatment set (ADVICE r08): a treatment
    # with zero successful users must still contribute its (k·0 − N)²
    # = N² numerator term and emit an output row — built only from
    # observed successes, both silently vanish and Q is understated
    per_type = (
        counts.select("event_type")
        .distinct()
        .join(
            x.groupBy("event_type").agg(F.count(F.lit(1)).alias("c_obs")),
            "event_type",
            "left",
        )
        .select(
            "event_type",
            F.coalesce("c_obs", F.lit(0)).cast("long").alias("c_j"),
        )
    )
    per_user = x.groupBy("user_id").agg(F.count(F.lit(1)).alias("r_i"))
    # k is the TREATMENT count (all observed types), not the count of
    # types that ever succeed; N is total successes
    k_n = kk.crossJoin(
        F.broadcast(x.agg(F.count(F.lit(1)).alias("nn")))
    ).select(F.col("k_").alias("k"), "nn")
    denom = per_user.agg(
        F.sum("r_i").alias("sr"),
        F.sum(F.col("r_i") * F.col("r_i")).alias("sr2"),
    )
    num = (
        per_type.crossJoin(F.broadcast(k_n))
        .select(
            (
                (F.col("k") * F.col("c_j") - F.col("nn"))
                * (F.col("k") * F.col("c_j") - F.col("nn"))
            ).alias("sq"),
            "k",
        )
        .groupBy("k")
        .agg(F.sum("sq").alias("s"))
    )
    q = num.crossJoin(F.broadcast(denom)).select(
        F.expr(
            "ROUND((CAST(k AS DOUBLE) - 1) * CAST(s AS DOUBLE)"
            " / (CAST(k AS DOUBLE)"
            "    * (CAST(k AS DOUBLE) * CAST(sr AS DOUBLE)"
            "       - CAST(sr2 AS DOUBLE))), 6)"
        ).alias("cochran_q"),
        F.col("k").cast("bigint").alias("k_treatments"),
    )
    return per_type.select(
        "event_type", F.col("c_j").cast("bigint").alias("n_users_above")
    ).crossJoin(F.broadcast(q))


def q282_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test: do the event types
    differ in spend SPREAD (not level)? One-way ANOVA on absolute
    deviations from each type's median — the robust Levene variant.
    The prerequisite check before pooled-variance tests like q153.

    Exactness: group medians are type-1 order statistics on integer
    cents (rank windows); deviations z are exact integers; the F
    statistic assembles from Σz, Σz², and per-group ROUND-9 S²/n terms
    summed as DECIMAL(28,9) (the q253 convention), then one shared
    double formula. Scale: ranks partition by type; two partial aggs."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    r = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n_g"),
    )
    # lower (type-1) median: rank (n+1) DIV 2
    med = r.filter(F.col("rn") == F.expr("(n_g + 1) DIV 2")).select(
        "event_type", F.col("cents").alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("cents") - F.col("med")).alias("z")
    )
    zd = F.col("z").cast("decimal(19,0)")
    per_g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("z").alias("s_g"),
        F.sum(zd * zd).cast("decimal(38,0)").alias("s2_g"),
    )
    terms = per_g.select(
        "event_type",
        "n_g",
        "s_g",
        "s2_g",
        F.expr(
            "CAST(ROUND(CAST(CAST(s_g AS DECIMAL(19,0))"
            " * s_g AS DOUBLE) / n_g, 9) AS DECIMAL(28,9))"
        ).alias("t"),
    )
    glob = terms.agg(
        F.sum("n_g").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s_g").alias("s"),
        F.sum("s2_g").cast("decimal(38,0)").alias("szz"),
        F.sum("t").alias("st"),
    ).select(
        F.expr(
            "ROUND(((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))"
            " / (CAST(k AS DOUBLE) - 1))"
            " * (CAST(st AS DOUBLE)"
            "    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            "      / CAST(nn AS DOUBLE))"
            " / (CAST(szz AS DOUBLE) - CAST(st AS DOUBLE)), 6)"
        ).alias("bf_f"),
        F.col("nn").cast("bigint").alias("n_total"),
        F.col("k").cast("bigint").alias("k_groups"),
    )
    return terms.select(
        "event_type",
        F.col("n_g").cast("bigint").alias("n_g"),
        F.col("s_g").cast("bigint").alias("sum_absdev"),
    ).crossJoin(F.broadcast(glob))


QUERIES = {
    "q31_sessionize": q31_sessionize,
    "q280_friedman_test": q280_friedman_test,
    "q281_cochran_q": q281_cochran_q,
    "q282_brown_forsythe": q282_brown_forsythe,
    "q274_interpolated_quantiles": q274_interpolated_quantiles,
    "q263_wilcoxon_signed_rank": q263_wilcoxon_signed_rank,
    "q260_neyman_allocation": q260_neyman_allocation,
    "q251_mann_whitney": q251_mann_whitney,
    "q252_spearman_rank_corr": q252_spearman_rank_corr,
    "q253_kruskal_wallis": q253_kruskal_wallis,
    "q254_kendall_tau": q254_kendall_tau,
    "q255_theil_sen": q255_theil_sen,
    "q203_mcnemar_test": q203_mcnemar_test,
    "q217_correlation_matrix": q217_correlation_matrix,
    "q204_calibration_bins": q204_calibration_bins,
    "q205_winsorized_stats": q205_winsorized_stats,
    "q32_asof_join": q32_asof_join,
    "q33_rollup": q33_rollup,
    "q34_setops": q34_setops,
    "q36_exact_median": q36_exact_median,
    "q37_pivot": q37_pivot,
    "q38_scalar_gauntlet": q38_scalar_gauntlet,
    "q44_range_join": q44_range_join,
    "q45_map_functions": q45_map_functions,
    "q78_unpivot": q78_unpivot,
    "q111_table_stats": q111_table_stats,
    "q115_quality_constraints": q115_quality_constraints,
    "q116_join_cardinality_estimate": q116_join_cardinality_estimate,
    "q124_chisq_independence": q124_chisq_independence,
    "q126_ols_fit": q126_ols_fit,
    "q127_ks_drift": q127_ks_drift,
    "q131_mad_outliers": q131_mad_outliers,
    "q135_key_skew_audit": q135_key_skew_audit,
    "q137_rfm_segments": q137_rfm_segments,
    "q138_brand_affinity": q138_brand_affinity,
    "q140_fd_audit": q140_fd_audit,
    "q150_pareto_abc": q150_pareto_abc,
    "q152_amount_reconciliation": q152_amount_reconciliation,
    "q155_score_auc": q155_score_auc,
    "q161_benford_audit": q161_benford_audit,
    "q164_session_restatement": q164_session_restatement,
    "q176_incremental_mv_audit": q176_incremental_mv_audit,
    "q180_bag_setops": q180_bag_setops,
    "q182_weighted_median": q182_weighted_median,
    "q184_concurrent_sessions": q184_concurrent_sessions,
    "q189_pareto_skyline": q189_pareto_skyline,
    "q196_average_precision": q196_average_precision,
    "q197_gini_best_split": q197_gini_best_split,
}

# DuckDB twin of TX.tokens (the shared whitespace tokenizer)
_ORACLE_TOK = "string_split_regex(lower(trim(text)), '\\s+')"


def _q217_oracle() -> str:
    sums = ["COUNT(*) AS n"]
    for k, c in _CM_COLS:
        sums.append(f"SUM(CAST({c} AS DECIMAL(18,2))) AS s_{k}")
    for i, (a, ca) in enumerate(_CM_COLS):
        for b, cb in _CM_COLS[i:]:
            sums.append(
                f"SUM(CAST({ca} AS DECIMAL(18,2))"
                f" * CAST({cb} AS DECIMAL(18,2))) AS p_{a}_{b}"
            )
    selects = []
    for i, (a, _) in enumerate(_CM_COLS):
        for b, _c in _CM_COLS[i + 1 :]:
            selects.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y,"
                f" CAST(n AS BIGINT) AS n, {_corr_sql(a, b)} AS r FROM one"
            )
    # MATERIALIZED: six consumers — DuckDB would otherwise inline and
    # recompute the sum pass per pair (the _KM_CTES lesson)
    return (
        "WITH one AS MATERIALIZED (SELECT "
        + ", ".join(sums)
        + " FROM lineitem) "
        + " UNION ALL ".join(selects)
    )


# shared CTE text for the doubled-midrank frame over a (v, cnt[, ...])
# count table named {src}: 2*cum_before + cnt + 1
def _mr2_cte(src: str, extra: str = "") -> str:
    return f"""
        SELECT v, cnt{extra},
               2 * COALESCE(SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + cnt + 1 AS mr2
        FROM {src}"""


_Q255_REV_E4 = (
    "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
    " * 10000 AS BIGINT)"
)


_Q260_W = (
    "CASE WHEN n_h > 1 THEN CAST(n_h AS DOUBLE)"
    " * sqrt((CAST(n_h AS DOUBLE) * CAST(s2 AS DOUBLE)"
    "         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    "        / (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1)))"
    " ELSE 0.0 END"
)

ORACLE = {
    "q280_friedman_test": """
        WITH ev AS (
            SELECT user_id, event_type,
                   CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events),
        cells AS (SELECT user_id, event_type, SUM(cents) AS c
                  FROM ev GROUP BY 1, 2),
        users AS (SELECT DISTINCT user_id FROM cells),
        types AS (SELECT DISTINCT event_type FROM cells),
        dense AS (
            SELECT users.user_id, types.event_type, COALESCE(c, 0) AS c
            FROM users CROSS JOIN types
            LEFT JOIN cells USING (user_id, event_type)),
        blk AS (SELECT user_id, c, COUNT(*) AS cnt
                FROM dense GROUP BY 1, 2),
        mrv AS (
            SELECT user_id, c,
                   2 * COALESCE(SUM(cnt) OVER (PARTITION BY user_id
                       ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + cnt + 1 AS mr2
            FROM blk),
        mr AS (SELECT dense.user_id, dense.event_type, mr2
               FROM dense JOIN mrv ON dense.user_id = mrv.user_id
                                  AND dense.c = mrv.c),
        pt AS (SELECT event_type, CAST(SUM(mr2) AS BIGINT) AS r_x2
               FROM mr GROUP BY 1),
        gl AS (SELECT SUM(CAST(mr2 AS HUGEINT) * mr2) AS a2,
                      COUNT(DISTINCT user_id) AS n,
                      COUNT(DISTINCT event_type) AS k
               FROM mr),
        sq AS (SELECT n, k, a2,
                      SUM(CAST(r_x2 - n * (k + 1) AS HUGEINT)
                          * (r_x2 - n * (k + 1))) AS s4
               FROM pt, gl GROUP BY n, k, a2),
        st AS (
            SELECT ROUND((CAST(k AS DOUBLE) - 1) * CAST(s4 AS DOUBLE)
                         / (CAST(a2 AS DOUBLE) - CAST(n AS DOUBLE)
                            * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1)
                            * (CAST(k AS DOUBLE) + 1)), 6) AS chi2_f,
                   CAST(n AS BIGINT) AS n_blocks,
                   CAST(k AS BIGINT) AS k_treatments
            FROM sq)
        SELECT event_type, r_x2, chi2_f, n_blocks, k_treatments
        FROM pt, st
    """,
    "q281_cochran_q": """
        WITH counts AS (SELECT user_id, event_type, COUNT(*) AS n_it
                        FROM events GROUP BY 1, 2),
        tot AS (SELECT user_id, SUM(n_it) AS tot_i
                FROM counts GROUP BY 1),
        kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM counts),
        x AS (SELECT user_id, event_type
              FROM counts JOIN tot USING (user_id), kk
              WHERE n_it * k > tot_i),
        pt AS (SELECT t.event_type, COALESCE(c.c_obs, 0) AS c_j
               FROM (SELECT DISTINCT event_type FROM counts) t
               LEFT JOIN (SELECT event_type, COUNT(*) AS c_obs
                          FROM x GROUP BY 1) c USING (event_type)),
        pu AS (SELECT user_id, COUNT(*) AS r_i FROM x GROUP BY 1),
        nt AS (SELECT COUNT(*) AS nn FROM x),
        den AS (SELECT SUM(r_i) AS sr, SUM(r_i * r_i) AS sr2 FROM pu),
        num AS (SELECT k,
                       SUM(CAST(k * c_j - nn AS HUGEINT)
                           * (k * c_j - nn)) AS s
                FROM pt, kk, nt GROUP BY k),
        q AS (
            SELECT ROUND((CAST(k AS DOUBLE) - 1) * CAST(s AS DOUBLE)
                         / (CAST(k AS DOUBLE)
                            * (CAST(k AS DOUBLE) * CAST(sr AS DOUBLE)
                               - CAST(sr2 AS DOUBLE))), 6) AS cochran_q,
                   CAST(k AS BIGINT) AS k_treatments
            FROM num, den)
        SELECT event_type, CAST(c_j AS BIGINT) AS n_users_above,
               cochran_q, k_treatments
        FROM pt, q
    """,
    "q282_brown_forsythe": """
        WITH ev AS (
            SELECT event_type,
                   CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events),
        r AS (
            SELECT event_type, cents,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY cents) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_g
            FROM ev),
        med AS (SELECT event_type, cents AS med FROM r
                WHERE rn = (n_g + 1) // 2),
        z AS (SELECT ev.event_type, ABS(cents - med) AS z
              FROM ev JOIN med USING (event_type)),
        pg AS (SELECT event_type, COUNT(*) AS n_g,
                      CAST(SUM(z) AS BIGINT) AS s_g,
                      SUM(CAST(z AS HUGEINT) * z) AS s2_g
               FROM z GROUP BY 1),
        terms AS (
            SELECT event_type, n_g, s_g, s2_g,
                   CAST(ROUND(CAST(CAST(s_g AS HUGEINT) * s_g AS DOUBLE)
                              / n_g, 9) AS DECIMAL(28,9)) AS t
            FROM pg),
        gl AS (SELECT CAST(SUM(n_g) AS BIGINT) AS nn, COUNT(*) AS k,
                      CAST(SUM(s_g) AS BIGINT) AS s,
                      SUM(s2_g) AS szz, SUM(t) AS st
               FROM terms),
        f AS (
            SELECT ROUND(((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
                          / (CAST(k AS DOUBLE) - 1))
                         * (CAST(st AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(nn AS DOUBLE))
                         / (CAST(szz AS DOUBLE) - CAST(st AS DOUBLE)),
                         6) AS bf_f,
                   nn AS n_total, CAST(k AS BIGINT) AS k_groups
            FROM gl)
        SELECT event_type, CAST(n_g AS BIGINT) AS n_g,
               s_g AS sum_absdev, bf_f, n_total, k_groups
        FROM terms, f
    """,
    "q274_interpolated_quantiles": """
        WITH ranked AS (
            SELECT source, n_chars AS v,
                   ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY n_chars, doc_id) AS rn
            FROM documents),
        ns AS (SELECT source, COUNT(*) AS n FROM ranked GROUP BY 1),
        ps AS (SELECT unnest([25, 50, 75]) AS p100),
        targets AS (
            SELECT source, p100, n,
                   ((n - 1) * p100) // 100 AS lo0,
                   ((n - 1) * p100) % 100 AS rem
            FROM ns CROSS JOIN ps)
        SELECT t.source, CAST(p100 AS INT) AS p100,
               CAST(n AS BIGINT) AS n,
               CAST(r1.v AS DOUBLE)
                   + CAST(rem AS DOUBLE)
                     * (COALESCE(r2.v, r1.v) - r1.v) / 100 AS q_value
        FROM targets t
        JOIN ranked r1 ON r1.source = t.source AND r1.rn = lo0 + 1
        LEFT JOIN ranked r2 ON r2.source = t.source AND r2.rn = lo0 + 2
    """,
    "q263_wilcoxon_signed_rank": f"""
        WITH ev AS (
            SELECT user_id,
                   CAST(round(value * 100, 0) AS BIGINT) AS cents,
                   epoch_us(ts) AS us
            FROM events),
        m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
        per AS (
            SELECT user_id,
                   SUM(CASE WHEN us <= mid THEN cents ELSE 0 END) AS s1,
                   SUM(CASE WHEN us > mid THEN cents ELSE 0 END) AS s2
            FROM ev, m GROUP BY user_id),
        dd AS (SELECT CAST(s2 - s1 AS BIGINT) AS d FROM per
               WHERE s1 <> s2),
        vals AS (
            SELECT ABS(d) AS ad, COUNT(*) AS cnt,
                   SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cnt_pos
            FROM dd GROUP BY 1),
        r AS (
            SELECT cnt, cnt_pos,
                   2 * COALESCE(SUM(cnt) OVER (ORDER BY ad
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + cnt + 1 AS mr2
            FROM vals),
        s AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(cnt_pos * mr2) AS BIGINT) AS w_pos_x2,
                   SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tt
            FROM r)
        SELECT n, w_pos_x2, {_WILC_Z} AS z_score FROM s
    """,
    "q260_neyman_allocation": f"""
        WITH per AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_h,
                   CAST(SUM(n_chars) AS BIGINT) AS s1,
                   SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2
            FROM documents GROUP BY 1),
        wf AS (
            SELECT source, n_h,
                   CAST(ROUND({_Q260_W}, 9) AS DECIMAL(28,9)) AS w
            FROM per),
        tot AS (SELECT SUM(w) AS ww FROM wf),
        q AS (
            SELECT source, n_h,
                   1000 * CAST(w AS DOUBLE) / CAST(
                       CASE WHEN ww > 0 THEN ww
                            ELSE error('q260: total Neyman weight is zero'
                                       ' (every stratum has n_h <= 1)')
                       END AS DOUBLE) AS quota
            FROM wf, tot),
        q2 AS (
            SELECT source, n_h, quota,
                   CAST(FLOOR(quota) AS BIGINT) AS base,
                   quota - FLOOR(quota) AS rem
            FROM q),
        lo AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS r FROM q2),
        rk AS (
            SELECT source, n_h, quota, base,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
            FROM q2)
        SELECT source, n_h, ROUND(quota, 6) AS quota,
               CAST(base + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
                   AS alloc
        FROM rk, lo
    """,
    "q251_mann_whitney": f"""
        WITH c AS (
            SELECT n_chars AS v, COUNT(*) AS cnt,
                   SUM(CASE WHEN length(source) = 4 THEN 1 ELSE 0 END)
                       AS cnt_a
            FROM documents GROUP BY 1),
        r AS (
            SELECT v, cnt, cnt_a,
                   2 * COALESCE(SUM(cnt) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + cnt + 1 AS mr2
            FROM c),
        s AS (
            SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
                   CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
                   CAST(SUM(cnt_a * mr2) AS BIGINT) AS r_a_x2,
                   SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tt
            FROM r)
        SELECT n_a, n_b, r_a_x2,
               CAST(r_a_x2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2,
               {_MWU_Z} AS z_score
        FROM s
    """,
    "q252_spearman_rank_corr": f"""
        WITH li AS (
            SELECT CAST(l_quantity AS BIGINT) AS x,
                   CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS y
            FROM lineitem),
        cells AS (SELECT x, y, COUNT(*) AS nc FROM li GROUP BY x, y),
        cx AS (SELECT x AS v, SUM(nc) AS cnt FROM cells GROUP BY 1),
        cy AS (SELECT y AS v, SUM(nc) AS cnt FROM cells GROUP BY 1),
        rx AS (SELECT v AS x, mr2 AS rx2 FROM ({_mr2_cte("cx")})),
        ry AS (SELECT v AS y, mr2 AS ry2 FROM ({_mr2_cte("cy")})),
        j AS (SELECT nc, rx2, ry2
              FROM cells JOIN rx USING (x) JOIN ry USING (y)),
        s AS (
            SELECT CAST(SUM(nc) AS BIGINT) AS n,
                   CAST(SUM(nc * rx2) AS BIGINT) AS sx,
                   CAST(SUM(nc * ry2) AS BIGINT) AS sy,
                   SUM(nc * CAST(rx2 AS HUGEINT) * rx2) AS sxx,
                   SUM(nc * CAST(ry2 AS HUGEINT) * ry2) AS syy,
                   SUM(nc * CAST(rx2 AS HUGEINT) * ry2) AS sxy
            FROM j)
        SELECT n, sx, sy, {_SPEARMAN_RHO} AS spearman_rho FROM s
    """,
    "q253_kruskal_wallis": f"""
        WITH cells AS (
            SELECT n_chars AS v, source, COUNT(*) AS nc
            FROM documents GROUP BY 1, 2),
        tot AS (SELECT v, SUM(nc) AS cnt FROM cells GROUP BY 1),
        mr AS ({_mr2_cte("tot")}),
        ps AS (
            SELECT source, CAST(SUM(nc) AS BIGINT) AS n_j,
                   CAST(SUM(nc * mr2) AS BIGINT) AS r_x2
            FROM cells JOIN mr USING (v) GROUP BY source),
        tm AS (
            SELECT CAST(SUM(n_j) AS BIGINT) AS nn,
                   SUM(CAST(ROUND(CAST(CAST(r_x2 AS HUGEINT) * r_x2
                                       AS DOUBLE) / (4 * n_j), 9)
                            AS DECIMAL(28,9))) AS sterm
            FROM ps),
        tc AS (SELECT SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tt
               FROM mr),
        g AS (
            SELECT nn,
                   ROUND(12 * CAST(sterm AS DOUBLE)
                         / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1))
                         - 3 * (CAST(nn AS DOUBLE) + 1), 6) AS h_stat,
                   ROUND((12 * CAST(sterm AS DOUBLE)
                          / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1))
                          - 3 * (CAST(nn AS DOUBLE) + 1))
                         / (1 - CAST(tt AS DOUBLE)
                            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                               * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))),
                         6) AS h_corrected
            FROM tm, tc)
        SELECT source, n_j, r_x2,
               ROUND(CAST(r_x2 AS DOUBLE) / (2 * CAST(n_j AS DOUBLE)), 6)
                   AS mean_rank,
               h_stat, h_corrected
        FROM ps, g
    """,
    "q254_kendall_tau": f"""
        WITH li AS (
            SELECT CAST(l_quantity AS BIGINT) AS x,
                   CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS y
            FROM lineitem),
        cells AS (SELECT x, y, COUNT(*) AS nc FROM li GROUP BY x, y),
        xs AS (SELECT DISTINCT x FROM cells),
        ys AS (SELECT DISTINCT y FROM cells),
        dense AS (
            SELECT xs.x, ys.y, COALESCE(nc, 0) AS nc
            FROM xs CROSS JOIN ys LEFT JOIN cells USING (x, y)),
        g AS (
            SELECT x, y, nc,
                   COALESCE(SUM(nc) OVER (PARTITION BY y ORDER BY x
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) AS sx
            FROM dense),
        h AS (
            SELECT nc,
                   COALESCE(SUM(sx) OVER (PARTITION BY x ORDER BY y
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) AS cc,
                   COALESCE(SUM(sx) OVER (PARTITION BY x ORDER BY y DESC
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) AS dd
            FROM g),
        m1 AS (SELECT CAST(SUM(m * (m - 1)) AS BIGINT) AS n1_x2
               FROM (SELECT x, SUM(nc) AS m FROM cells GROUP BY x)),
        m2 AS (SELECT CAST(SUM(m * (m - 1)) AS BIGINT) AS n2_x2
               FROM (SELECT y, SUM(nc) AS m FROM cells GROUP BY y)),
        s AS (
            SELECT CAST(SUM(nc) AS BIGINT) AS n,
                   CAST(SUM(nc * cc) AS BIGINT) AS concordant,
                   CAST(SUM(nc * dd) AS BIGINT) AS discordant
            FROM h)
        SELECT concordant, discordant,
               CAST(n * (n - 1) AS BIGINT) AS n0_x2, n1_x2, n2_x2,
               {_TAUB} AS tau_b
        FROM s, m1, m2
    """,
    "q255_theil_sen": f"""
        WITH monthly AS (
            SELECT date_trunc('month', l_shipdate) AS mon,
                   CAST(SUM({_Q255_REV_E4}) AS BIGINT) AS c4,
                   CAST(date_diff('day', DATE '1995-01-01',
                        CAST(date_trunc('month', MIN(l_shipdate)) AS DATE))
                        AS INT) AS d
            FROM lineitem GROUP BY 1),
        pairs AS (
            SELECT a.mon AS m1, b.mon AS m2,
                   CAST(b.c4 - a.c4 AS DOUBLE)
                       / CAST(b.d - a.d AS DOUBLE) AS slope_e4
            FROM monthly a JOIN monthly b ON a.d < b.d),
        ranked AS (
            SELECT m1, m2, slope_e4,
                   ROW_NUMBER() OVER (ORDER BY slope_e4, m1, m2) AS rn,
                   COUNT(*) OVER () AS n_pairs
            FROM pairs)
        SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
               CAST(m1 AS DATE) AS median_m1, CAST(m2 AS DATE) AS median_m2,
               ROUND(slope_e4 / 10000, 6) AS slope_per_day
        FROM ranked WHERE rn = (n_pairs + 1) // 2
    """,
    "q217_correlation_matrix": _q217_oracle(),
    "q203_mcnemar_test": f"""
        WITH t AS (
            SELECT (lang = 'en') AS y,
                   (n_chars >= 120) AS a,
                   (len({_ORACLE_TOK}) >= 25) AS b
            FROM documents),
        g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN a = y THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_a_correct,
                   CAST(SUM(CASE WHEN b = y THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_b_correct,
                   CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                        AS BIGINT) AS n10,
                   CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
                        AS BIGINT) AS n01
            FROM t)
        SELECT n_docs, n_a_correct, n_b_correct, n10, n01,
               CASE WHEN n10 + n01 > 0 THEN
                   ROUND(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                         / (n10 + n01), 6)
               ELSE NULL END AS chi2,
               10000 * (n10 - n01) * (n10 - n01) > 38415 * (n10 + n01)
                   AS significant
        FROM g
    """,
    "q204_calibration_bins": """
        WITH base AS (
            SELECT LEAST(n_chars, 200) AS m,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
        binned AS (
            SELECT m, y, CAST(LEAST(m * 10 // 200, 9) AS INT) AS bin
            FROM base),
        g AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(m) AS BIGINT) AS sm,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM((m - 200 * y) * (m - 200 * y)) AS BIGINT) AS sq
            FROM binned GROUP BY bin)
        SELECT bin, n_docs,
               ROUND(CAST(sm AS DOUBLE) / (200 * n_docs), 6) AS avg_pred,
               ROUND(CAST(sy AS DOUBLE) / n_docs, 6) AS obs_rate,
               ROUND(CAST(sq AS DOUBLE) / (40000 * n_docs), 6) AS brier
        FROM g
    """,
    "q205_winsorized_stats": """
        WITH base AS (
            SELECT source, doc_id, n_chars FROM documents),
        t AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
            FROM base GROUP BY source),
        r AS (
            SELECT source, n_chars,
                   CAST(ROW_NUMBER() OVER (PARTITION BY source
                                           ORDER BY n_chars, doc_id)
                        AS BIGINT) AS gr
            FROM base),
        cuts AS (
            SELECT r.source,
                   MAX(CASE WHEN gr = (5 * ns + 99) // 100
                            THEN n_chars END) AS p5,
                   MAX(CASE WHEN gr = (95 * ns + 99) // 100
                            THEN n_chars END) AS p95
            FROM r JOIN t ON t.source = r.source
            GROUP BY r.source),
        w AS (
            SELECT b.source, c.p5, c.p95, b.n_chars,
                   GREATEST(c.p5, LEAST(b.n_chars, c.p95)) AS cv
            FROM base b JOIN cuts c ON c.source = b.source)
        SELECT source, p5, p95,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)
                   AS raw_mean,
               ROUND(CAST(SUM(cv) AS DOUBLE) / COUNT(*), 6)
                   AS winsorized_mean
        FROM w GROUP BY source, p5, p95
    """,
    "q196_average_precision": """
        WITH r AS (
            SELECT doc_id, n_chars AS score,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
        w AS (
            SELECT y,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS BIGINT) AS k,
                   CAST(SUM(y) OVER (ORDER BY score DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cp
            FROM r)
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CASE WHEN SUM(y) > 0 THEN
                   ROUND(CAST(SUM(CASE WHEN y = 1 THEN
                       CAST(ROUND(CAST(cp AS DOUBLE) / CAST(k AS DOUBLE),
                                  9) AS DECIMAL(18,9))
                       ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE)
                         / CAST(SUM(y) AS DOUBLE), 6)
               ELSE NULL END AS avg_precision
        FROM w
    """,
    "q197_gini_best_split": f"""
        WITH g AS (
            SELECT n_chars AS score, COUNT(*) AS cnt,
                   CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS pos
            FROM documents GROUP BY 1),
        t AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
                   CAST(SUM(pos) AS BIGINT) AS p_total
            FROM g),
        c AS (
            SELECT score,
                   CAST(SUM(cnt) OVER (ORDER BY score
                                       ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS nl,
                   CAST(SUM(pos) OVER (ORDER BY score
                                       ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS pl
            FROM g),
        s AS (
            SELECT c.score AS split_score,
                   nl AS n_left, pl AS pos_left,
                   n_total - nl AS n_right,
                   p_total - pl AS pos_right,
                   {_GINI_SPLIT} AS gini
            FROM c, t WHERE nl < n_total)
        SELECT * FROM s ORDER BY gini, split_score LIMIT 1
    """,
    "q31_sessionize": f"""
        WITH marked AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
            SELECT user_id, ts, value,
                   -- CAST: DuckDB's window SUM yields HUGEINT; Spark's is
                   -- BIGINT, and the driver hash distinguishes the types.
                   CAST(SUM(new_s) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS session_idx
            FROM marked)
        SELECT user_id, session_idx,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM numbered
        GROUP BY user_id, session_idx
    """,
    "q32_asof_join": """
        SELECT c.event_id, c.user_id, c.ts, p.ts AS last_purchase_ts
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT user_id, ts FROM events
                        WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    "q33_rollup": """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "q34_setops": """
        (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "q36_exact_median": """
        WITH ranked AS (
            SELECT o_orderpriority,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM orders)
        SELECT o_orderpriority,
               CAST(AVG(price) AS DOUBLE) AS median_price,
               MAX(n) AS n_orders
        FROM ranked
        WHERE rn = floor((n + 1) / 2.0) OR rn = floor(n / 2.0) + 1
        GROUP BY o_orderpriority
    """,
    "q37_pivot": """
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F_n",
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS "F_rev",
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O_n",
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS "O_rev",
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P_n",
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS "P_rev"
        FROM orders
        GROUP BY o_orderpriority
    """,
    "q44_range_join": """
        SELECT e.event_id AS error_id, e.user_id,
               COUNT(*) AS n_following
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'error') e
        JOIN events f
          ON f.user_id = e.user_id
         AND f.ts > e.ts
         AND epoch_us(f.ts) - epoch_us(e.ts) <= 3600000000
        GROUP BY e.event_id, e.user_id
    """,
    "q45_map_functions": """
        SELECT user_id,
               COUNT(*) OVER (PARTITION BY user_id) AS n_types,
               event_type,
               n_events
        FROM (SELECT user_id, event_type, COUNT(*) AS n_events
              FROM events GROUP BY user_id, event_type)
    """,
    "q38_scalar_gauntlet": """
        SELECT o_orderkey,
               abs(o_totalprice * -1) AS abs_price,
               round(o_totalprice, 0) AS round_price,
               CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
               CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
               o_orderkey % 7 AS key_mod7,
               sqrt(CAST(o_orderkey AS DOUBLE)) AS key_sqrt,
               upper(substr(o_orderpriority, 1, 3)) AS prio3,
               lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_pad,
               length(o_orderpriority) AS prio_len,
               concat_ws('|', o_orderstatus, o_orderpriority) AS tag,
               year(o_orderdate) AS y,
               month(o_orderdate) AS m,
               day(o_orderdate) AS d,
               CAST(o_orderdate AS DATE) + 30 AS due_date,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               greatest(year(o_orderdate), 1996) AS y_floor,
               coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm
        FROM orders
    """,
    "q78_unpivot": """
        SELECT p_partkey, 'p_size' AS metric,
               CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS metric,
               CAST(p_retailprice AS DOUBLE) AS value
        FROM part
    """,
    "q111_table_stats": f"""
        WITH long AS (
            {" UNION ALL ".join(
                f"SELECT '{c}' AS col_name, {c} AS val FROM lineitem"
                for c in _STATS_COLS
            )})
        SELECT col_name,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               COUNT(DISTINCT val) AS ndv,
               MIN(val) AS min_val,
               MAX(val) AS max_val,
               CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        FROM long GROUP BY col_name
    """,
    "q115_quality_constraints": """
        WITH suite AS (
            SELECT 'orders.o_orderkey unique' AS constraint_name,
                   COUNT(*) AS n_checked,
                   COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations
            FROM orders
            UNION ALL
            SELECT 'lineitem.l_orderkey -> orders',
                   COUNT(*),
                   CAST(SUM(CASE WHEN o.o_orderkey IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem l LEFT JOIN orders o
              ON l.l_orderkey = o.o_orderkey
            UNION ALL
            SELECT 'lineitem.l_quantity in [1,50]',
                   COUNT(*),
                   CAST(SUM(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0
                                 THEN 0 ELSE 1 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_discount in [0,0.1]',
                   COUNT(*),
                   CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1
                                 THEN 0 ELSE 1 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'orders.o_orderstatus accepted',
                   COUNT(*),
                   CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
                                 THEN 0 ELSE 1 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'lineitem.l_shipdate >= order date',
                   COUNT(*),
                   CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem l JOIN orders o
              ON l.l_orderkey = o.o_orderkey)
        SELECT constraint_name, n_checked, n_violations,
               n_violations = 0 AS passed
        FROM suite
    """,
    "q116_join_cardinality_estimate": """
        WITH samp AS (
            SELECT o_orderkey FROM orders
            WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '20'),
        est AS (
            SELECT CAST(COUNT(*) * 8 AS BIGINT) AS est_n
            FROM lineitem l JOIN samp s ON l.l_orderkey = s.o_orderkey),
        exact AS (
            SELECT COUNT(*) AS exact_n
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        SELECT exact_n, est_n,
               ROUND(CAST(ABS(est_n - exact_n) AS DOUBLE) / exact_n, 6)
                   AS rel_err
        FROM exact CROSS JOIN est
    """,
    "q124_chisq_independence": f"""
        WITH cells AS (
            SELECT source,
                   {_CHI_CASE.replace("n_tok", f"CAST(len({_ATOK}) AS INT)")} AS bucket_cap,
                   COUNT(*) AS o
            FROM documents GROUP BY 1, 2),
        rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS rt
               FROM cells GROUP BY source),
        ct AS (SELECT bucket_cap, CAST(SUM(o) AS BIGINT) AS ct
               FROM cells GROUP BY bucket_cap),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        scored AS (
            SELECT c.source, c.bucket_cap, c.o,
                   ROUND(CAST(r.rt AS DOUBLE) * CAST(x.ct AS DOUBLE)
                         / CAST(t.n AS DOUBLE), 4) AS expected,
                   {_CHI_CONTRIB.replace("rt AS DOUBLE", "r.rt AS DOUBLE").replace("ct AS DOUBLE", "x.ct AS DOUBLE").replace("n AS DOUBLE", "t.n AS DOUBLE").replace("o AS DOUBLE", "c.o AS DOUBLE")} AS contrib
            FROM cells c
            JOIN rt r ON r.source = c.source
            JOIN ct x ON x.bucket_cap = c.bucket_cap
            CROSS JOIN tot t),
        dims AS (SELECT CAST(SUM(contrib) AS DOUBLE) AS chi2,
                        (COUNT(DISTINCT source) - 1)
                        * (COUNT(DISTINCT bucket_cap) - 1) AS dof
                 FROM scored)
        SELECT s.source, s.bucket_cap, s.o, s.expected,
               CAST(s.contrib AS DOUBLE) AS contrib,
               d.chi2, d.dof
        FROM scored s CROSS JOIN dims d
    """,
    "q126_ols_fit": f"""
        WITH xy AS (
            SELECT source,
                   CAST(len({_ATOK}) AS BIGINT) AS x,
                   n_chars AS y
            FROM documents),
        stats AS (
            SELECT source, COUNT(*) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM xy GROUP BY source)
        SELECT source, n,
               {_OLS_SLOPE} AS slope,
               {_OLS_ICEPT} AS intercept,
               {_OLS_R2} AS r2
        FROM stats
    """,
    "q127_ks_drift": f"""
        WITH counts AS (
            SELECT lang, CAST(len({_ATOK}) AS INT) AS v, COUNT(*) AS c
            FROM documents GROUP BY 1, 2),
        grid AS (SELECT DISTINCT v FROM counts),
        langs AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_l
                  FROM counts GROUP BY lang),
        dense AS (
            SELECT l.lang, l.n_l, g.v, COALESCE(c.c, 0) AS c
            FROM langs l CROSS JOIN grid g
            LEFT JOIN counts c ON c.lang = l.lang AND c.v = g.v),
        ecdf AS (
            SELECT lang, n_l, v,
                   CAST(SUM(c) OVER (
                       PARTITION BY lang ORDER BY v) AS BIGINT) AS cum
            FROM dense),
        gaps AS (
            SELECT a.lang AS lang1, b.lang AS lang2,
                   a.n_l AS n1, b.n_l AS n2, a.v,
                   CAST(ABS(a.cum * b.n_l - b.cum * a.n_l) AS BIGINT)
                       AS gap_num
            FROM ecdf a JOIN ecdf b
              ON a.v = b.v AND a.lang < b.lang),
        peak AS (
            SELECT lang1, lang2, n1, n2, MAX(gap_num) AS ks_num
            FROM gaps GROUP BY 1, 2, 3, 4)
        SELECT g.lang1, g.lang2, g.n1, g.n2,
               ROUND(CAST(p.ks_num AS DOUBLE)
                     / CAST(g.n1 * g.n2 AS DOUBLE), 6) AS ks,
               MIN(g.v) AS peak_len
        FROM gaps g
        JOIN peak p ON p.lang1 = g.lang1 AND p.lang2 = g.lang2
                   AND g.gap_num = p.ks_num
        GROUP BY g.lang1, g.lang2, g.n1, g.n2, p.ks_num
    """,
    "q131_mad_outliers": f"""
        WITH x AS (
            SELECT source, CAST(len({_ATOK}) AS INT) AS v, doc_id
            FROM documents),
        r1 AS (
            SELECT source, v,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY v, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM x),
        med AS (
            SELECT source, AVG(v) AS med, MAX(n) AS n_docs
            FROM r1
            WHERE rn = floor((n + 1) / 2.0) OR rn = floor(n / 2.0) + 1
            GROUP BY source),
        dev AS (
            SELECT x.source, x.doc_id, m.n_docs, m.med,
                   ABS(x.v - m.med) AS dev
            FROM x JOIN med m ON m.source = x.source),
        r2 AS (
            SELECT source, dev,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY dev, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM dev),
        mad AS (
            SELECT source, AVG(dev) AS mad
            FROM r2
            WHERE rn = floor((n + 1) / 2.0) OR rn = floor(n / 2.0) + 1
            GROUP BY source)
        SELECT d.source,
               CAST(MAX(d.n_docs) AS BIGINT) AS n_docs,
               MAX(d.med) AS median_tok,
               MAX(m.mad) AS mad,
               CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m ON m.source = d.source
        GROUP BY d.source
    """,
    "q135_key_skew_audit": f"""
        WITH per_key AS (
            SELECT l_suppkey, COUNT(*) AS k
            FROM lineitem GROUP BY l_suppkey),
        sums AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(k) AS BIGINT) AS s1,
                   SUM(CAST(k AS HUGEINT) * CAST(k AS HUGEINT)) AS s2,
                   SUM(CAST(k AS HUGEINT) * CAST(k AS HUGEINT)
                       * CAST(k AS HUGEINT)) AS s3,
                   SUM(CAST(k AS HUGEINT) * CAST(k AS HUGEINT)
                       * CAST(k AS HUGEINT) * CAST(k AS HUGEINT)) AS s4,
                   CAST(MAX(k) AS BIGINT) AS max_ct
            FROM per_key)
        SELECT n AS n_keys,
               ROUND({_KM_MEAN}, 6) AS mean_ct,
               ROUND({_KM_M2}, 6) AS variance,
               ROUND({_KM_M3} / pow({_KM_M2}, 1.5), 6) AS skewness,
               ROUND({_KM_M4} / ({_KM_M2} * {_KM_M2}) - 3, 6)
                   AS kurtosis_excess,
               max_ct,
               ROUND(CAST(max_ct AS DOUBLE) / {_KM_MEAN}, 6)
                   AS max_over_mean
        FROM sums
    """,
    "q137_rfm_segments": """
        WITH per_cust AS (
            SELECT o_custkey,
                   MAX(o_orderdate) AS last_order,
                   COUNT(*) AS freq,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
            FROM orders GROUP BY o_custkey),
        scored AS (
            SELECT o_custkey,
                   date_diff('day', last_order,
                             (SELECT MAX(last_order) FROM per_cust))
                       AS recency_d,
                   freq, spend
            FROM per_cust),
        cells AS (
            SELECT CAST(NTILE(4) OVER (
                       ORDER BY recency_d, o_custkey) AS INT) AS r_score,
                   CAST(NTILE(4) OVER (
                       ORDER BY freq DESC, o_custkey) AS INT) AS f_score,
                   CAST(NTILE(4) OVER (
                       ORDER BY spend DESC, o_custkey) AS INT) AS m_score,
                   spend
            FROM scored)
        SELECT r_score, f_score, m_score,
               COUNT(*) AS n_customers,
               CAST(CAST((2 * SUM(CAST(spend * 100 AS BIGINT)) + COUNT(*))
                         // (2 * COUNT(*)) AS BIGINT) AS DOUBLE) / 100
                   AS avg_spend
        FROM cells
        GROUP BY r_score, f_score, m_score
    """,
    "q138_brand_affinity": """
        WITH ob AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_ord FROM ob),
        bc AS (SELECT p_brand, COUNT(*) AS c FROM ob GROUP BY p_brand),
        co AS (
            SELECT a.p_brand AS brand1, b.p_brand AS brand2,
                   COUNT(*) AS co_orders
            FROM ob a JOIN ob b
              ON a.l_orderkey = b.l_orderkey
             AND a.p_brand < b.p_brand
            GROUP BY 1, 2
            HAVING COUNT(*) >= 5)
        SELECT co.brand1, co.brand2, co.co_orders,
               ROUND(CAST(co.co_orders AS DOUBLE)
                     * CAST(n.n_ord AS DOUBLE)
                     / (CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE)), 6)
                   AS lift
        FROM co
        JOIN bc c1 ON c1.p_brand = co.brand1
        JOIN bc c2 ON c2.p_brand = co.brand2
        CROSS JOIN n
    """,
    "q152_amount_reconciliation": """
        WITH charged AS (
            SELECT l_orderkey,
                   SUM(CAST(l_extendedprice * (1 + l_tax)
                            * (1 - l_discount) AS DECIMAL(18,6)))
                       AS charged
            FROM lineitem GROUP BY l_orderkey),
        j AS (
            SELECT o.o_orderpriority,
                   CAST(o.o_totalprice AS DECIMAL(18,2)) AS tp,
                   c.charged
            FROM orders o
            LEFT JOIN charged c ON c.l_orderkey = o.o_orderkey)
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN charged IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_no_lines,
               CAST(SUM(CASE WHEN ABS(tp - charged)
                                  > CAST('0.05' AS DECIMAL(18,6))
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_mismatched,
               CAST(SUM(ABS(tp - charged)) AS DOUBLE)
                   AS sum_abs_delta,
               CAST(MAX(ABS(tp - charged)) AS DOUBLE)
                   AS max_abs_delta
        FROM j
        GROUP BY o_orderpriority
    """,
    "q150_pareto_abc": """
        WITH rev AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey),
        cum AS (
            SELECT cents,
                   CAST(SUM(cents) OVER (
                       ORDER BY cents DESC, o_custkey) AS BIGINT)
                       AS cum_cents,
                   CAST(SUM(cents) OVER () AS BIGINT) AS tot
            FROM rev),
        classed AS (
            SELECT cents, tot,
                   CASE WHEN 5 * cum_cents <= 4 * tot THEN 'A'
                        WHEN 20 * cum_cents <= 19 * tot THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM cum)
        SELECT abc_class,
               COUNT(*) AS n_customers,
               CAST(SUM(cents) AS DOUBLE) / 100 AS revenue,
               ROUND(CAST(SUM(cents) AS DOUBLE)
                     / CAST(MAX(tot) AS DOUBLE), 6) AS revenue_share
        FROM classed
        GROUP BY abc_class
    """,
    "q140_fd_audit": """
        WITH g1 AS (SELECT n_nationkey, COUNT(DISTINCT n_regionkey) AS k
                    FROM nation GROUP BY 1),
        g2 AS (SELECT doc_id, COUNT(DISTINCT lang) AS k
               FROM documents GROUP BY 1),
        g3 AS (SELECT source, COUNT(DISTINCT lang) AS k
               FROM documents GROUP BY 1),
        g4 AS (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS k
               FROM orders GROUP BY 1)
        SELECT 'nation.n_nationkey -> n_regionkey' AS fd,
               COUNT(*) AS n_groups,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_groups,
               MAX(k) AS max_distinct_rhs,
               MAX(k) = 1 AS holds
        FROM g1
        UNION ALL
        SELECT 'documents.doc_id -> lang', COUNT(*),
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               MAX(k), MAX(k) = 1
        FROM g2
        UNION ALL
        SELECT 'documents.source -> lang', COUNT(*),
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               MAX(k), MAX(k) = 1
        FROM g3
        UNION ALL
        SELECT 'orders.o_custkey -> o_orderpriority', COUNT(*),
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               MAX(k), MAX(k) = 1
        FROM g4
    """,
    "q155_score_auc": f"""
        WITH lab AS (
            SELECT n_chars AS score,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
        g AS (SELECT score, COUNT(*) AS cnt,
                     CAST(SUM(y) AS BIGINT) AS pos
              FROM lab GROUP BY score),
        r AS (SELECT score, cnt, pos,
                     CAST(COALESCE(SUM(cnt) OVER (
                              ORDER BY score
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS BIGINT)
                         AS off
              FROM g),
        a AS (SELECT SUM(CAST(pos AS HUGEINT)
                         * (2 * off + cnt + 1)) AS r2,
                     CAST(SUM(pos) AS BIGINT) AS n_pos,
                     CAST(SUM(cnt) AS BIGINT) AS n_all
              FROM r)
        SELECT n_pos, n_all - n_pos AS n_neg,
               {_AUC} AS auc,
               ROUND(2 * ({_AUC}) - 1, 6) AS gini
        FROM a
    """,
    "q161_benford_audit": f"""
        WITH cells AS (
            SELECT {_BEN_DIGIT} AS digit, COUNT(*) AS o
            FROM orders GROUP BY 1),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        scored AS (
            SELECT digit, o, n, {_BEN_P} AS p
            FROM cells CROSS JOIN tot),
        scored2 AS (
            SELECT digit, o, n, p, {_BEN_CONTRIB} AS contrib
            FROM scored),
        stats AS (
            SELECT CAST(SUM(contrib) AS DOUBLE) AS chi2,
                   ROUND(CAST(SUM(CAST(ABS(ROUND(CAST(o AS DOUBLE)
                                                 / n, 6) - p)
                                       AS DECIMAL(18,9))) AS DOUBLE)
                         / COUNT(*), 6) AS mad
            FROM scored2)
        SELECT digit, o,
               ROUND(CAST(o AS DOUBLE) / n, 6) AS observed_share,
               p AS benford_share,
               CAST(contrib AS DOUBLE) AS contrib,
               chi2, mad
        FROM scored2 CROSS JOIN stats
    """,
    "q189_pareto_skyline": """
        WITH pts AS (
            SELECT o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                   CAST(o_orderdate AS DATE) AS odate
            FROM orders),
        pg AS (SELECT price, MIN(odate) AS gmin
               FROM pts GROUP BY price),
        h AS (SELECT price, gmin,
                     MIN(gmin) OVER (ORDER BY price DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS hh
              FROM pg)
        SELECT p.o_orderkey, CAST(p.price AS DOUBLE) AS price, p.odate
        FROM pts p JOIN h ON h.price = p.price
        WHERE p.odate = h.gmin AND (h.hh IS NULL OR h.gmin < h.hh)
    """,
    "q184_concurrent_sessions": f"""
        WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us
                    FROM events),
        m AS (SELECT user_id, event_id, us,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > {SESSION_GAP_US}
                          THEN 1 ELSE 0 END AS ns
              FROM ev
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sd AS (SELECT user_id, us,
                      SUM(ns) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
               FROM m),
        s AS (SELECT user_id, sid, MIN(us) AS st, MAX(us) AS en
              FROM sd GROUP BY user_id, sid),
        sliced AS (
            SELECT user_id, sid,
                   CAST(unnest(generate_series(
                       date_trunc('day', make_timestamp(st)),
                       date_trunc('day', make_timestamp(en)),
                       INTERVAL 1 DAY)) AS DATE) AS day,
                   st, en
            FROM s),
        clipped AS (
            SELECT user_id, sid, day,
                   GREATEST(st, epoch_us(CAST(day AS TIMESTAMP)))
                       AS cst,
                   LEAST(en, epoch_us(CAST(day AS TIMESTAMP)
                                      + INTERVAL 1 DAY) - 1) AS cen
            FROM sliced),
        bounds AS (
            SELECT day, cst AS t, 1 AS delta FROM clipped
            UNION ALL
            SELECT day, cen + 1, -1 FROM clipped),
        swept AS (
            SELECT day,
                   SUM(delta) OVER (PARTITION BY day
                                    ORDER BY t, delta DESC
                                    ROWS UNBOUNDED PRECEDING) AS conc
            FROM bounds),
        peaks AS (SELECT day, CAST(MAX(conc) AS BIGINT)
                             AS peak_concurrency
                  FROM swept GROUP BY day),
        counts AS (SELECT day, COUNT(*) AS n_sessions
                   FROM clipped GROUP BY day)
        SELECT c.day, c.n_sessions, p.peak_concurrency
        FROM counts c JOIN peaks p ON p.day = c.day
    """,
    "q182_weighted_median": """
        WITH wts AS (SELECT l_orderkey, COUNT(*) AS w
                     FROM lineitem GROUP BY 1),
        base AS (
            SELECT o.o_orderpriority, o.o_orderkey,
                   CAST(o.o_totalprice AS DECIMAL(18,2)) AS price, t.w
            FROM orders o JOIN wts t ON t.l_orderkey = o.o_orderkey),
        cum AS (
            SELECT o_orderpriority, price,
                   SUM(w) OVER (PARTITION BY o_orderpriority
                                ORDER BY price, o_orderkey
                                ROWS UNBOUNDED PRECEDING) AS c,
                   SUM(w) OVER (PARTITION BY o_orderpriority) AS tw,
                   o_orderkey
            FROM base)
        SELECT o_orderpriority,
               CAST(MAX(tw) AS BIGINT) AS total_weight,
               CAST(arg_min(price, lpad(CAST(CAST(price * 100 AS BIGINT)
                        AS VARCHAR), 20, '0')
                    || '|' || lpad(CAST(o_orderkey AS VARCHAR), 20, '0'))
                    AS DOUBLE) AS weighted_median
        FROM cum WHERE 2 * c >= tw
        GROUP BY o_orderpriority
    """,
    "q180_bag_setops": """
        WITH a AS (SELECT o_custkey, o_orderpriority FROM orders
                   WHERE date_part('year', o_orderdate) = 1996),
        b AS (SELECT o_custkey, o_orderpriority FROM orders
              WHERE date_part('year', o_orderdate) = 1997),
        i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
        x AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        SELECT 'intersect_all' AS op, o_custkey, o_orderpriority,
               COUNT(*) AS multiplicity
        FROM i GROUP BY 2, 3
        UNION ALL
        SELECT 'except_all', o_custkey, o_orderpriority, COUNT(*)
        FROM x GROUP BY 2, 3
    """,
    "q176_incremental_mv_audit": f"""
        WITH ev AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   epoch_us(ts) AS us,
                   CAST(value AS DECIMAL(18,6)) AS v
            FROM events),
        base AS (SELECT event_type, day, COUNT(*) AS c_b, SUM(v) AS s_b
                 FROM ev WHERE us <= {_RESTATE_CUTOFF_US}
                 GROUP BY 1, 2),
        delta AS (SELECT event_type, day, COUNT(*) AS c_d, SUM(v) AS s_d
                  FROM ev WHERE us > {_RESTATE_CUTOFF_US}
                  GROUP BY 1, 2),
        incr AS (
            SELECT COALESCE(b.event_type, d.event_type) AS event_type,
                   COALESCE(b.day, d.day) AS day,
                   COALESCE(c_b, 0) + COALESCE(c_d, 0) AS c_i,
                   COALESCE(s_b, 0) + COALESCE(s_d, 0) AS s_i
            FROM base b FULL OUTER JOIN delta d
              ON d.event_type = b.event_type AND d.day = b.day),
        fullv AS (SELECT event_type, day, COUNT(*) AS c_f, SUM(v) AS s_f
                  FROM ev GROUP BY 1, 2),
        cmp AS (
            SELECT f.c_f, f.s_f, i.c_i, i.s_i
            FROM fullv f FULL OUTER JOIN incr i
              ON i.event_type = f.event_type AND i.day = f.day)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN c_f IS NULL OR c_i IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
               CAST(SUM(CASE WHEN c_f <> c_i THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_count_mismatch,
               CAST(SUM(CASE WHEN s_f <> s_i THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sum_mismatch,
               SUM(CASE WHEN c_f IS NULL OR c_i IS NULL
                        THEN 1 ELSE 0 END) = 0
               AND SUM(CASE WHEN c_f <> c_i THEN 1 ELSE 0 END) = 0
               AND SUM(CASE WHEN s_f <> s_i THEN 1 ELSE 0 END) = 0
                   AS groups_match
        FROM cmp
    """,
    "q164_session_restatement": f"""
        WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us
                    FROM events),
        m1 AS (
            SELECT user_id, event_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                          OR us - lag(us) OVER w > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS ns
            FROM ev WHERE us <= {_RESTATE_CUTOFF_US}
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        s1 AS (
            SELECT user_id, MIN(us) AS st, MAX(us) AS en1,
                   COUNT(*) AS c1
            FROM (SELECT user_id, us,
                         SUM(ns) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m1)
            GROUP BY user_id, sid),
        m2 AS (
            SELECT user_id, event_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                          OR us - lag(us) OVER w > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS ns
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        s2 AS (
            SELECT user_id, MIN(us) AS st, MAX(us) AS en2,
                   COUNT(*) AS c2
            FROM (SELECT user_id, us,
                         SUM(ns) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m2)
            GROUP BY user_id, sid)
        SELECT CASE WHEN c1 IS NULL THEN 'new'
                    WHEN c2 IS NULL THEN 'vanished'
                    WHEN en1 = en2 AND c1 = c2 THEN 'unchanged'
                    ELSE 'extended' END AS status,
               COUNT(*) AS n_sessions,
               COUNT(DISTINCT COALESCE(s2.user_id, s1.user_id))
                   AS n_users
        FROM s2 FULL OUTER JOIN s1 USING (user_id, st)
        GROUP BY 1
    """,
}
