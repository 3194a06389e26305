"""Coverage extensions round 2: grouping sets, deciles, gap analysis,
quality scoring, stratified sampling, repetition stats, range frames.

Engine extensions beyond the reference (SURVEY.md §2.I), same contract
as plans/analytics.py: every query has an exact ANSI-SQL oracle twin,
every aggregate is decimal-cast so Spark and DuckDB agree bit-for-bit,
and every computed column is aliased identically on both sides.

Scale notes (100 TB story):
- q48 cube is Catalyst Expand + ONE partial+final hash aggregate — the
  shuffle carries (group × grouping-set) rows after map-side combine.
- q49's global NTILE is inherently a total order (single range
  exchange); it exists as the operator demo — per-key variants
  partition first and scale like any window.
- q50/q54 are single-shuffle window plans hash-partitioned by their
  entity key; each entity's timeline sorts within one task.
- q51/q52/q53 are scan-side projections / one groupBy each; the only
  Python-free expressions, all codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as TX
from ..schemas import load_table
from ._buckets import bucket_of, quantile_bounds

_STOP_SQL = "('the','a','of','and','to','in','is','it')"
_TOK = "string_split_regex(lower(trim(text)), '\\s+')"


def q48_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, order year): all four grouping sets in one
    Expand + single-shuffle hash aggregate, with grouping_id
    disambiguating true NULL-ish groups from subtotal rows."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "y", F.year("o_orderdate")
    )
    return (
        o.cube("o_orderstatus", "y")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("y", F.lit(-1)).alias("y"),
            "gid",
            "n_orders",
            "sum_price",
        )
    )


def q49_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) global deciles of order price (deterministic via the
    orderkey tiebreak) → per-decile count / bounds / decimal sum.

    Scale shape (VERDICT r02 #7): a bare ``Window.orderBy`` NTILE
    hash-partitions the WHOLE table into one task. Instead this runs
    the q65 two-phase rewrite — sampled boundaries bucket the rows,
    each bucket ranks locally, broadcast per-bucket offsets lift local
    ranks to a global row number — and the decile is then closed-form
    integer arithmetic on (global rank, N): with N = 10·base + rem,
    deciles 1..rem hold base+1 rows, the rest hold base (exactly
    NTILE's definition). Same output contract; the oracle stays the
    plain NTILE(10) SQL. Bucketing compares the DOUBLE image of the
    price (order-preserving for decimal(18,2) far below 2^53/100);
    in-bucket ordering uses the exact decimal + orderkey tiebreak, so
    equal doubles resolve exactly like the single-window form.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_totalprice").cast("double").alias("pd"),
    )
    bucketed = o.withColumn("bkt", bucket_of("pd", quantile_bounds(o, "pd")))
    # per-bucket counts are a ≤33-row aggregate — collect them once and
    # derive BOTH the cumulative offsets (as a plan-literal array, no
    # broadcast join) and N (the NTILE arithmetic scalar) driver-side,
    # like the boundary list itself
    counts = {
        int(r["bkt"]): int(r["n"])
        for r in bucketed.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(counts.values())
    n_buckets = (max(counts) + 1) if counts else 1
    offs, acc = [], 0
    for b in range(n_buckets):
        offs.append(acc)
        acc += counts.get(b, 0)
    base, rem = divmod(n_total, 10)
    # N < 10 (ADVICE r03): keep base=0 — every row sits in the first
    # branch (cut = rem = N, decile = gr, exactly NTILE), and only the
    # unreachable ELSE divisor needs the >=1 guard to stay evaluable
    cut = rem * (base + 1)
    safe = max(base, 1)
    off_arr = "array(" + ",".join(f"{x}L" for x in offs) + ")"
    wl = Window.partitionBy("bkt").orderBy("price", "o_orderkey")
    tiled = (
        bucketed.withColumn("lr", F.row_number().over(wl))
        .withColumn("gr", F.expr(f"element_at({off_arr}, bkt + 1) + lr"))
        .select(
            "price",
            # ceil-div as exact integer DIV: ceil(a/b) = (a + b - 1) div b
            F.expr(
                f"CAST(CASE WHEN gr <= {cut}"
                f" THEN (gr + {base}) DIV {base + 1}"
                f" ELSE {rem} + (gr - {cut} + {safe - 1}) DIV {safe}"
                f" END AS INT)"
            ).alias("decile"),
        )
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("price").cast("double").alias("min_price"),
        F.max("price").cast("double").alias("max_price"),
        F.sum("price").cast("double").alias("sum_price"),
    )


def q50_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap analysis via lead(): gap count, >1 h gap
    count, exact integer-microsecond max/avg (avg exposed as double)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    gap_us = F.unix_micros(nxt) - F.unix_micros(F.col("ts"))
    gaps = ev.select("user_id", gap_us.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum((F.col("gap_us") > 3600 * 1_000_000).cast("long")).alias(
            "n_long_gaps"
        ),
        F.max("gap_us").alias("max_gap_us"),
        (
            F.sum("gap_us").cast("double")
            / (F.count(F.lit(1)) * F.lit(1e6))
        ).alias("avg_gap_s"),
    )


def quality_rule_cols(text_col: str = "text"):
    """The four Gopher-style quality rules as (n_tokens, [r_len,
    r_punct, r_stop, r_word]) — the ORDERED rule list shared by q51
    (score), q77 (composite) and q190 (funnel) so rule semantics and
    funnel order cannot drift apart."""
    toks = TX.tokens(text_col)
    n_tok = F.size(toks)
    punct_ratio = TX.punct_count(text_col).cast("double") / F.length(text_col)
    stop_ratio = TX.stopword_count(toks).cast("double") / n_tok
    r_len = (n_tok >= 10) & (n_tok <= 1000)
    r_punct = punct_ratio <= 0.1
    r_stop = stop_ratio >= 0.03
    r_word = (
        F.length(F.regexp_replace(text_col, r"\s+", "")).cast("double") / n_tok
    ) <= 12
    return n_tok, [r_len, r_punct, r_stop, r_word]


def quality_score_cols(text_col: str = "text"):
    """Gopher-style 4-rule quality score — (n_tokens, score) column
    pair, shared by q51 and the q77 composite pipeline so the rule
    semantics cannot drift between them."""
    n_tok, rules = quality_rule_cols(text_col)
    score = sum(
        (r.cast("int") for r in rules[1:]), rules[0].cast("int")
    )
    return n_tok, score


def q51_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document quality scoring (Gopher-style filters): four
    boolean rules → integer score → keep decision. The standard
    pre-training corpus filter, fully codegen'd."""
    d = load_table(spark, sf_dir, "documents")
    n_tok, score = quality_score_cols("text")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        score.alias("quality_score"),
        (score == 4).alias("keep"),
    )


def q190_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter FUNNEL with first-fail attribution: the q51 rules
    applied in their stated order (length → punctuation → stopwords →
    word-length), each document charged to the FIRST rule it fails —
    the C4/Gopher-style rejection report a curation run publishes so
    rule owners know which gate does the cutting (a score alone, q51,
    can't say WHY a doc died or which rule to re-tune). Output: one
    row per (source, stage) with the doc count and the share of the
    source, stage_idx ordering the funnel.

    Scale shape: the rules are codegen'd scan-side projections (shared
    with q51 via quality_rule_cols — no drift); the corpus collapses
    to a (source × 5-stage) grid in ONE partial-agg shuffle; the
    source totals for the share division come from a broadcast join of
    the grid's own per-source sums (value-domain-sized, no second scan
    of the corpus). The only division is the final share (exact ints,
    ROUND 6 both engines)."""
    d = load_table(spark, sf_dir, "documents")
    _, rules = quality_rule_cols("text")
    stage = (
        F.when(~rules[0], F.lit(0))
        .when(~rules[1], F.lit(1))
        .when(~rules[2], F.lit(2))
        .when(~rules[3], F.lit(3))
        .otherwise(F.lit(4))
    )
    names = F.lit(
        ["length", "punctuation", "stopwords", "word_length", "pass"]
    )
    grid = (
        d.select("source", stage.alias("stage_idx"))
        .groupBy("source", "stage_idx")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = grid.groupBy("source").agg(F.sum("n_docs").alias("n_src"))
    return grid.join(F.broadcast(totals), "source").select(
        "source",
        "stage_idx",
        F.element_at(names, F.col("stage_idx") + 1).alias("stage"),
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("n_src"), 6
        ).alias("frac"),
    )


def q52_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: within each source stratum keep
    the lowest ~10% of docs by md5(doc_id) rank — same subset on every
    run, any cluster, any partitioning (no RNG). One window shuffle on
    the stratum key."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    )
    return ranked.filter(
        F.col("rn") <= F.ceil(F.col("n_src") * 0.1)
    ).select("doc_id", "source", "rn")


def q53_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality stats: type-token ratio and the
    top-token frequency share per document (the repeated-content filter
    of pre-training pipelines). One explode + two grouped aggregates,
    all counts exact integers before the final double division."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
    per_tok = ex.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("ttr"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_token_share"),
    )


def q54_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed moving aggregate: per customer, order count and
    decimal revenue over a trailing 7-day window keyed on the epoch-day
    integer (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) — the
    time-based frame the reference's fact tables need for rolling
    weather statistics, single shuffle on the entity key."""
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("day"))
        .rangeBetween(-6, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        day.alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    ).select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.sum("price").over(w).cast("double").alias("rev_7d"),
    )


def q55_bigjoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join at engine scale: lineitem ⋈ orders on orderkey
    (both large — sort-merge/shuffled-hash territory, AQE-coalesced),
    then ⋈ customer (comparatively small — broadcast-able) for segment
    revenue per order-year. The canonical TPC-H-Q3-shaped plan: the
    ONLY wide exchange is the orderkey shuffle; the groupBy rides a
    partial aggregate so the second shuffle carries (year × segment)
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    joined = (
        li.select("l_orderkey", rev.alias("rev"))
        .join(
            o.select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("y")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"))
    )
    return joined.groupBy("y", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("rev").cast("double").alias("revenue"),
    )


def q175_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5-shaped six-table star: revenue from 1996 orders where
    customer and supplier share a nation, rolled up per ASIA nation —
    the canonical deep multi-way join benchmark (region → nation →
    {customer, supplier} → orders → lineitem with a cross-dimension
    equality). The join-planning showcase: the ONLY wide exchange is
    lineitem ⋈ orders on orderkey; every dimension side (region-
    filtered nations, nation-tagged suppliers, customers) broadcasts,
    and the local-supplier condition (c_nationkey = s_nationkey) rides
    the supplier broadcast join, never its own shuffle.

    Revenue uses q144's exact-money convention: the double product is
    cast to DECIMAL(18,4) per row (2-decimal price x 2-decimal
    discount has 4 true decimals), summed exactly, and cast to double
    once."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = F.expr(
        "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
    )
    nat = n.join(
        r.filter(F.col("r_name") == "ASIA"),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    sup = F.broadcast(
        s.join(
            F.broadcast(nat),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_nationkey", "n_name")
    )
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    joined = (
        li.select("l_orderkey", "l_suppkey", rev.alias("rev"))
        .join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            sup,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("rev").cast("double").alias("revenue"),
    )


def q177_exclusive_fault_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21-shaped correlated EXISTS / NOT EXISTS: suppliers who
    were the ONLY supplier with returned items ('R') in finalized
    multi-supplier orders — the classic blame-assignment query whose
    value is the PLAN: Catalyst decorrelates the EXISTS into a
    left-semi and the NOT EXISTS into a left-anti join, both with the
    non-equi `suppkey <>` condition attached to the orderkey equi-key,
    so the quadratic per-order scan the SQL literally describes never
    runs. Written as SQL on purpose (q56's convention): the
    decorrelation IS the operator under test."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_q177"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_q177"
    )
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "supplier_q177"
    )
    return spark.sql(
        """
        SELECT s.s_name AS s_name,
               COUNT(*) AS numwait
        FROM supplier_q177 s
        JOIN lineitem_q177 l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders_q177 o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem_q177 l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem_q177 l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        """
    )


def q178_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q17-shaped per-group scalar subquery: yearly revenue
    locked up in small-quantity line items — items of Brand#1 parts
    ordered below 20% of that part's average order quantity. The
    operator under test is Catalyst's decorrelation of a CORRELATED
    scalar aggregate (one row per outer row in the SQL text) into one
    partkey aggregate + join; q56 covers the single-table case, this
    is the canonical fact-side version where the rewrite is the
    difference between one shuffle and a per-row re-scan.

    Cross-engine exactness: quantities are integral doubles cast
    BIGINT, so the per-part average is the same correctly-rounded
    IEEE division of identical integers on both engines, and the
    0.2× threshold compare sees identical doubles — boundary rows
    cannot diverge. Revenue follows the exact-money convention."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_q178"
    )
    load_table(spark, sf_dir, "part").createOrReplaceTempView(
        "part_q178"
    )
    return spark.sql(
        """
        SELECT COUNT(*) AS n_small,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_price,
               ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) / 7.0, 6) AS avg_yearly
        FROM lineitem_q178 l
        JOIN part_q178 p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND CAST(l.l_quantity AS BIGINT) <
              (SELECT 0.2 * AVG(CAST(l2.l_quantity AS BIGINT))
               FROM lineitem_q178 l2
               WHERE l2.l_partkey = l.l_partkey)
        """
    )


def q186_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery join: each customer's top-2 orders
    by price — the SQL-standard lateral form of top-k-per-group,
    semantically an inner correlated join whose right side is a
    per-row ORDER BY ... LIMIT. The operator under test is the
    DECORRELATION: Catalyst rewrites the per-customer limit into one
    partitioned window (WindowGroupLimit pushes the top-2 into map
    tasks), so the plan is the q82-shaped bounded window, never a
    per-customer re-scan — writing it AS a lateral proves the engine
    accepts the standard form, not just the hand-rewritten one.

    Deterministic: (price DESC, orderkey) total order; customers
    without orders drop out (inner lateral semantics)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_q186"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_q186"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment,
               t.o_orderkey, t.rk,
               CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                   AS price
        FROM customer_q186 c,
        LATERAL (SELECT o_orderkey, o_totalprice,
                        ROW_NUMBER() OVER (
                            ORDER BY o_totalprice DESC, o_orderkey)
                            AS rk
                 FROM orders_q186 o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) t
        """
    )


def q187_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics gauntlet over a NULLIF-derived nullable column:
    COUNT(*) vs COUNT(col) vs COUNT(DISTINCT col), NULL as its own
    GROUP BY group, and a null-safe self-join (Spark `<=>` / ANSI IS
    NOT DISTINCT FROM) on the aggregated (status, priority) frame —
    one row of audit scalars whose values silently corrupt the moment
    an engine (or a refactor) treats NULL = NULL as either always-
    false OR always-true in the wrong place. The generator has no
    native NULLs, so NULLIF(status, 'O') manufactures them
    deterministically.

    Scale shape: one scan → scalar partial aggs; the null-safe join
    runs on the ≤(3×5)-row grouped frame."""
    o = load_table(spark, sf_dir, "orders")
    o2 = o.select(
        F.expr("NULLIF(o_orderstatus, 'O')").alias("st"),
        "o_orderpriority",
    )
    g = o2.groupBy("st", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c")
    )
    nullsafe_pairs = (
        g.select(F.col("st").alias("s1"), F.col("c").alias("c1"))
        .join(
            g.select(F.col("st").alias("s2"), F.col("c").alias("c2")),
            F.col("s1").eqNullSafe(F.col("s2")),
        )
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.sum(
                (
                    F.col("s1").isNull() & F.col("s2").isNull()
                ).cast("long")
            ).alias("nn"),
        )
    )
    scalars = o2.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("st").alias("n_nonnull"),
        F.countDistinct("st").alias("n_distinct"),
        F.sum(F.col("st").isNull().cast("long")).alias("n_null"),
        F.max("st").alias("max_st"),
    )
    n_groups = g.groupBy("st").count().agg(
        F.count(F.lit(1)).alias("n_status_groups")
    )
    return (
        scalars.crossJoin(F.broadcast(n_groups))
        .crossJoin(F.broadcast(nullsafe_pairs))
        .select(
            "n_rows",
            "n_nonnull",
            "n_null",
            "n_distinct",
            "n_status_groups",
            F.col("np").alias("n_nullsafe_pairs"),
            F.col("nn").alias("n_null_null_pairs"),
            "max_st",
        )
    )


def q56_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders priced above their customer's
    average. Written as SQL so Catalyst's decorrelation
    (RewriteCorrelatedScalarSubquery) turns the per-row subquery into
    ONE aggregate + join — the plan a hand-rolled window/join would
    produce, derived automatically. The predicate is the exact integer
    form ``price * n > sum`` (never a float average), so the boundary
    rows are engine-independent."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_q56"
    )
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders_q56 o
        WHERE CAST(o_totalprice AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM orders_q56 i
                 WHERE i.o_custkey = o.o_custkey)
              > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FROM orders_q56 i
                 WHERE i.o_custkey = o.o_custkey)
        """
    )


def q57_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (streaming/windows.py::windowed_counts
    run in batch mode — same operator the streaming path uses, so the
    oracle match certifies the streaming aggregation logic too)."""
    from ..streaming.windows import windowed_counts

    ev = load_table(spark, sf_dir, "events")
    return windowed_counts(ev, window="1 hour", watermark=None)


def q58_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in gap session windows (``F.session_window``, batch mode) —
    the engine-native twin of q31's manual lag/cumsum formulation.
    Boundary semantics differ deliberately: session_window opens a NEW
    session when the gap is >= 4 h (window [ts, ts+gap) stops
    overlapping), where q31's manual CASE uses strictly >. The oracle
    mirrors the >= rule; differentially proving the built-in."""
    from ..streaming.windows import session_counts

    ev = load_table(spark, sf_dir, "events")
    return session_counts(ev, gap="4 hours", watermark=None)


def q59_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling fan-out (mapInPandas, one row per
    sampled frame) with a fully SQL-checkable output: the frame
    index/timestamp arithmetic. The per-frame sha256 column is dropped
    here because DuckDB cannot hash binary+index concatenations — the
    hash determinism is pinned by unit tests instead
    (tests/test_streaming_sources.py::test_multimodal_frame_sampling)."""
    from ..functions.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("synthetic").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.pmod(F.col("doc_id"), F.lit(5)) * 1700).cast("int").alias("duration_ms"),
    )
    return sample_frames(media, every_ms=1000).select(
        "media_id", "frame_idx", "frame_ms"
    )


# BPE-ish pre-tokenizer (GPT-2 style, portability-reduced): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs.
# No lookaheads / unicode property classes, so Java regex (Spark) and
# RE2 (DuckDB) match identically with leftmost-first alternation.
_BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def q61_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting under a BPE-ish regex pre-tokenizer (the
    whitespace counter's subword-aware twin, SURVEY §LLM-ops): per-doc
    piece count and the pieces/words expansion ratio every budget
    estimator needs. One codegen'd projection — regexp_extract_all +
    size, no Python."""
    d = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)
    words = TX.tokens("text")
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(words).alias("n_words"),
        (F.size(pieces).cast("double") / F.size(words)).alias(
            "pieces_per_word"
        ),
    )


def q62_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles per priority (Greenwald-Khanna
    ``approx_percentile``, accuracy 10000): the 100 TB twin of q36's
    exact rank-selection median — mergeable constant-memory sketches
    instead of a full sort/window. Rows-only by nature (DuckDB's
    quantile sketch differs by construction); the error bound vs the
    exact median is pinned by
    tests/test_extension_queries.py::test_approx_quantiles_error_bound.
    """
    o = load_table(spark, sf_dir, "orders")
    pcts = F.percentile_approx(
        F.col("o_totalprice").cast("double"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        F.lit(10000),
    )
    return o.groupBy("o_orderpriority").agg(
        pcts[0].alias("p25_approx"),
        pcts[1].alias("p50_approx"),
        pcts[2].alias("p75_approx"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q63_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check — the eval-leakage audit every
    pre-training pipeline runs before reporting benchmark numbers.
    Corpus split deterministically by doc_id (test = doc_id % 10 == 0);
    per test doc: how many of its distinct word 5-gram shingles also
    appear anywhere in the train split, and the contaminated fraction.

    Scale shape: both sides reduce to (doc, shingle) / (shingle) rows
    BEFORE the join — a hash join on the shingle string, linear in
    corpus size (never doc×doc), with the train side deduplicated by a
    map-side-combining distinct so each test shingle matches at most
    one train row. Single pass: the left join marks hits and ONE
    grouped aggregate produces totals and hit counts together (no
    second read of the shingle frame)."""
    from ..caching import persist_tracked
    from ..operators.similarity import _ensure_parallelism

    # one spread scan + ONE shingle explode for both splits: the naive
    # per-split explode tokenizes the corpus twice, single-threaded
    # when the parquet arrives as one split (q110's lesson applied)
    d = _ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh_all = persist_tracked(
        d.select(
            "doc_id",
            F.explode(TX.shingles(TX.tokens("text"), 5)).alias("sh"),
        )
    )
    t_sh = sh_all.filter(F.col("doc_id") % 10 == 0)
    tr_sh = (
        sh_all.filter(F.col("doc_id") % 10 != 0)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        t_sh.join(tr_sh, on="sh", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            (
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles")
            ).alias("contamination_rate"),
        )
    )


def q64_rare_term_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by TF weighted against corpus
    document frequency — the tf-idf keyword extractor, with two
    engine-portability choices baked in: the ordering key is the pure
    INTEGER triple (tf DESC, df ASC, term ASC) and the reported weight
    is tf·(N+1)/(df+1) — IEEE division is correctly rounded so Spark
    and DuckDB emit bit-identical doubles, where a log-idf would hang
    the hash on libm ulps.

    Scale shape: one explode + (doc,term) partial-agg shuffle for TF,
    a term-keyed agg for DF (carries distinct terms only), broadcast
    N, and the final top-k window partitioned by doc — no global
    sort, nothing quadratic."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(df_, on="term")
        .join(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            "rank",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs") + 1).cast("double")
                / (F.col("df") + 1).cast("double")
            ).alias("rarity_weight"),
        )
    )


def q65_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ROW_NUMBER over the whole orders table WITHOUT the
    single-task sort a bare ``Window.orderBy`` degenerates to: sampled
    range boundaries (approx quantiles of the sort key — a tiny
    driver-side scalar list, like signlsh's dim probe) bucket the rows,
    each bucket ranks locally under a bucket-partitioned window, and
    broadcast per-bucket offsets lift local ranks to global. One data
    shuffle + one tiny agg; boundary placement affects only balance,
    never the result — equal keys land in one bucket and the
    orderkey tiebreak is resolved inside it.

    (Catalyst itself plans ``ORDER BY`` via the same sampled range
    exchange, but a ranking WINDOW over the full table still collapses
    to one partition — this is the standard two-phase rewrite.)"""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    # ~32 boundaries, 1% relative error; dedup handles heavy ties
    bucketed = o.withColumn(
        "bkt", bucket_of("price", quantile_bounds(o, "price"))
    )
    offsets = (
        bucketed.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    wl = Window.partitionBy("bkt").orderBy("price", "o_orderkey")
    return (
        bucketed.withColumn("lr", F.row_number().over(wl))
        .join(F.broadcast(offsets), on="bkt")
        .select(
            "o_orderkey",
            "price",
            (F.col("offset") + F.col("lr")).alias("global_rank"),
        )
    )


def q66_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid — the class-prototype aggregation
    behind IVF init, cluster summaries, and centroid classifiers.
    Exact-arithmetic policy (functions/exact.py): per-position sums run
    in decimal(38,25) so the result is identical under ANY partitioning
    — a float centroid computed on 1000 executors would drift in the
    last ulps vs a single-node run; the decimal sum cannot. The mean is
    then ROUNDed to 6 decimals (q26's convention): Spark and DuckDB
    construct high-scale decimals from doubles differently (shortest
    string vs exact binary), so digits ~18+ of the raw mean differ;
    rounding where both agree keeps the comparison exact.

    Scale shape: posexplode to (label, pos, v) rides ONE partial-agg
    shuffle carrying (label × dim) partial sums per task — vectors
    never shuffle whole; the per-label array rebuild groups dim rows
    per label (second tiny shuffle)."""
    e = load_table(spark, sf_dir, "embeddings")
    per = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("v").cast("decimal(38,25)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            "label",
            "pos",
            F.round(F.col("s").cast("double") / F.col("c"), 6).alias("m"),
            "c",
        )
    )
    return per.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda t: t["m"],
        ).alias("centroid"),
        F.max("c").alias("n_vecs"),
    )


def q67_window_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/distribution window-function coverage in one pass:
    rank, dense_rank, percent_rank, cume_dist, lag/lead (null-padded
    edges), and frame-bounded first/last_value, all over one
    (priority-partitioned, price+key-ordered) window — ONE shuffle,
    one sort, eight functions. percent_rank/cume_dist are integer
    ratios under IEEE division, so both engines emit bit-identical
    doubles."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("price", "o_orderkey")
    full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "price",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.lag("price", 1).over(w).alias("prev_price"),
        F.lead("price", 1).over(w).alias("next_price"),
        F.first("price").over(w).alias("cheapest"),
        F.last("price").over(full).alias("priciest"),
    )


def q68_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model counts: for every left token seen
    ≥5 times as a bigram head, the top-2 continuations with exact
    counts and conditional probability — the n-gram LM / next-token
    statistics a data-quality pipeline derives from its corpus.

    Scale shape: bigram fan-out is a row-local HOF projection; counts
    ride ONE (w1,w2) partial-agg shuffle; the head totals + top-k both
    come from a single w1-partitioned window pass over the already
    aggregated (distinct-bigram-sized) frame — no second pass over the
    corpus."""
    from ..operators.similarity import _ensure_parallelism

    d = _ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = TX.tokens("text")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        d.select(F.explode_outer(bigrams).alias("bg"))
        .filter(F.col("bg").isNotNull())
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.split("bg", " ")[0].alias("w1"),
            F.split("bg", " ")[1].alias("w2"),
            "c",
        )
    )
    wt = Window.partitionBy("w1")
    wr = Window.partitionBy("w1").orderBy(F.col("c").desc(), F.col("w2"))
    return (
        counts.withColumn("head_total", F.sum("c").over(wt))
        .withColumn("rn", F.row_number().over(wr))
        .filter((F.col("head_total") >= 5) & (F.col("rn") <= 2))
        .select(
            "w1",
            "w2",
            "c",
            "head_total",
            "rn",
            (F.col("c").cast("double") / F.col("head_total")).alias(
                "cond_prob"
            ),
        )
    )


def q69_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe salted join (storage.salted_join) driven through
    the oracle gate: lineitem ⋈ orders sharded 8× on the hot key, then
    per-priority decimal revenue. The salt only routes rows, so the
    oracle is the PLAIN join — hash-matching it certifies the salting
    rewrite is semantics-preserving end to end (the unit tests pin the
    plan shape; this pins the algebra)."""
    from ..storage import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_quantity").alias("qty"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(li, o, key="okey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("qty").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


# q129 exactness: the per-position centroid means snap to
# DECIMAL(18,6) (the rounded double round-trips to the same 6-dp
# decimal in both engines), so dot products and squared norms are
# EXACT decimal sums — (18,6)×(18,6) widens to (37,12), inside both
# engines' 38-digit cap — and only the final cosine/L2 expressions
# touch floats, as one shared double chain rounded to 6.
_CSIM = (
    "ROUND(CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(ss1 AS DOUBLE)) * sqrt(CAST(ss2 AS DOUBLE))), 6)"
)
_CL2 = (
    "ROUND(sqrt(CAST(ss1 AS DOUBLE) + CAST(ss2 AS DOUBLE)"
    " - 2 * CAST(dot AS DOUBLE)), 6)"
)


# q168 per-position term: squared difference of two ROUND(,6) means —
# both operands are identical doubles on both engines (exact multiples
# of 1e-6), so the square is deterministic; the 9-decimal snap makes
# the 64-term sum exact and order-independent (q132 convention).
_MMD_TERM = "CAST(ROUND((ma - mb) * (ma - mb), 9) AS DECIMAL(18,9))"


def q168_label_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise linear-kernel MMD² between label groups in embedding
    space: for every label pair, squared distance between their mean
    embeddings — the standard two-sample distribution-shift statistic
    (MMD with a linear kernel reduces exactly to ||μ_a − μ_b||²). The
    embedding-space companion to q151's PSI: PSI sees drift in a
    scalar's histogram; this sees drift between cohorts of the
    representation itself — near-zero pairs mean the labels are not
    separable by mean shift, so a centroid classifier (q66) adds no
    signal for them.

    Scale shape: one posexplode partial-agg shuffle (labels × dim
    partial sums per task — the q66 plan, vectors never shuffle
    whole), then the pair join runs on the labels×dim frame, which is
    label-count-bounded, never corpus-sized."""
    e = load_table(spark, sf_dir, "embeddings")
    per = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("v").cast("decimal(38,25)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            "label",
            "pos",
            F.round(F.col("s").cast("double") / F.col("c"), 6).alias("m"),
            "c",
        )
    )
    pairs = (
        per.select(
            F.col("label").alias("label_a"),
            "pos",
            F.col("m").alias("ma"),
            F.col("c").alias("ca"),
        )
        .join(
            per.select(
                F.col("label").alias("label_b"),
                "pos",
                F.col("m").alias("mb"),
                F.col("c").alias("cb"),
            ),
            "pos",
        )
        .filter(F.col("label_a") < F.col("label_b"))
    )
    return (
        pairs.withColumn("w", F.expr(_MMD_TERM))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("ca").alias("n_a"),
            F.max("cb").alias("n_b"),
            F.round(F.sum("w").cast("double"), 6).alias("mmd2"),
        )
    )


def q129_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid similarity matrix: cosine and L2 distance
    between every pair of label centroids — the class-confusability
    audit behind label-quality triage (two labels whose centroids sit
    at cosine ≈ 1 are candidates for merging; a label far from all
    others is a candidate outlier class). Complements q66, which emits
    the centroids themselves.

    Scale shape: vectors collapse to (label × dim) decimal partial
    sums in one shuffle (vectors never travel whole — q66's shape);
    everything after runs on that k×d frame, persisted because three
    consumers (two join sides + norms) would otherwise re-aggregate
    the corpus. The pair join is k²d/2 rows of the TINY frame."""
    from ..caching import persist_tracked

    e = load_table(spark, sf_dir, "embeddings")
    per = persist_tracked(
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("v").cast("decimal(38,25)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            "label",
            "pos",
            F.round(F.col("s").cast("double") / F.col("c"), 6)
            .cast("decimal(18,6)")
            .alias("m"),
        )
    )
    norms = per.groupBy("label").agg(
        F.sum(F.col("m") * F.col("m")).alias("ss")
    )
    a = per.select(
        F.col("label").alias("label1"), "pos", F.col("m").alias("m1")
    )
    b = per.select(
        F.col("label").alias("label2"), "pos", F.col("m").alias("m2")
    )
    dots = (
        a.join(b, on="pos")
        .filter(F.col("label1") < F.col("label2"))
        .groupBy("label1", "label2")
        .agg(F.sum(F.col("m1") * F.col("m2")).alias("dot"))
    )
    return (
        dots.join(
            norms.select(
                F.col("label").alias("label1"), F.col("ss").alias("ss1")
            ),
            on="label1",
        )
        .join(
            norms.select(
                F.col("label").alias("label2"), F.col("ss").alias("ss2")
            ),
            on="label2",
        )
        .select(
            "label1",
            "label2",
            F.expr(_CSIM).alias("cos_sim"),
            F.expr(_CL2).alias("l2_dist"),
        )
    )


def q144_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the asymmetric subtotal layout CUBE
    (q48) and ROLLUP (q33) can't express: (returnflag × linestatus),
    per-returnflag subtotals, and the grand total, but deliberately NO
    per-linestatus marginals (the set a report actually asks for).
    ``grouping_id`` disambiguates subtotal rows from real NULL groups,
    like q48. One Expand + one shuffle — Catalyst plans all three sets
    in a single hash aggregate pass.

    Measures stay exact: counts integer, revenue summed as
    decimal(18,2) and exposed as double."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n_rows",
            "revenue",
        )
    )


# q142 exactness: means use q66's decimal(38,25) exact sums; the
# second moment snaps each v² to DECIMAL(18,12) BEFORE summing (q124's
# contribution pattern — the variance is then "variance of the rounded
# squares", stated identically in the oracle), so every aggregate is
# order-independent and the final float chain is shared verbatim.
_DIM_VAR = (
    "ROUND(CAST(s2 AS DOUBLE) / CAST(c AS DOUBLE)"
    " - (CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE))"
    " * (CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE)), 6)"
)


def q142_embedding_dim_health(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension embedding health audit: mean, variance, zero
    rate, and min/max per vector position — the pre-flight that
    catches dead dimensions (variance ≈ 0 wastes index bits and
    distance budget), biased encoders (|mean| >> 0), and saturated
    positions (min/max at a clamp) before an ANN index is built over
    100 TB of vectors.

    Scale shape: ONE posexplode rides one map-side-combined shuffle
    carrying (dim × 4) partial aggregates per task — vectors never
    shuffle whole, and the result is dim-sized regardless of corpus
    size."""
    e = load_table(spark, sf_dir, "embeddings")
    per = e.select(
        F.posexplode("embedding").alias("pos", "v")
    ).groupBy("pos").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.col("v").cast("decimal(38,25)")).alias("s1"),
        F.sum(
            F.expr("CAST(ROUND(v * v, 12) AS DECIMAL(18,12))")
        ).alias("s2"),
        F.sum((F.col("v") == 0).cast("long")).alias("n_zero"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    return per.select(
        "pos",
        "c",
        F.round(
            F.col("s1").cast("double") / F.col("c").cast("double"), 6
        ).alias("mean_v"),
        F.expr(_DIM_VAR).alias("var_v"),
        F.round(
            F.col("n_zero").cast("double") / F.col("c").cast("double"), 6
        ).alias("zero_rate"),
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
    )


def q211_json_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column profiling: extract the numeric ``$.k``
    field from the JSON ``props`` payload per event and report
    per-type presence and value statistics — the schema-on-read
    capability (JSON path extraction inside a relational plan) every
    event warehouse needs for payloads that never got promoted to
    columns. Extraction parity: Spark ``get_json_object`` and DuckDB
    ``json_extract_string`` both return NULL for absent/corrupt
    fields, so presence counts match by construction. Output: one row
    per event type — event count, extraction count, min/max/sum/mean.

    Scale shape: the JSON parse is a row-local projection feeding ONE
    partial-agg shuffle onto the ≤type-count frame; integer stats with
    a single final division (q127 discipline)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    g = ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )
    return g.select(
        "event_type",
        "n_events",
        "n_with_k",
        "min_k",
        "max_k",
        "sum_k",
        F.expr(
            "CASE WHEN n_with_k > 0 THEN"
            " ROUND(CAST(sum_k AS DOUBLE) / CAST(n_with_k AS DOUBLE), 6)"
            " ELSE NULL END"
        ).alias("mean_k"),
    )


# shared exact revenue term (TPC-H discipline): decimal(18,2) inputs,
# product carries 4 exact decimals, sums are order-independent
_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


def q219_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): top-10 unshipped BUILDING-segment
    orders by pending revenue as of 1998-01-01 (priority column adapted to this testdata schema) — the classic
    fact-fact-dim join + top-k that completes the repo's TPC-H depth
    set (Q5 q175, Q17 q178, Q21 q177). Revenue accumulates in exact
    decimal; the top-10 order (revenue DESC, o_orderdate, l_orderkey)
    is a deterministic decimal sort on both engines.

    Scale shape: both date filters push to the scans; the customer
    side reduces to a key set BEFORE joining (segment filter first);
    the join shuffles on orderkey; the top-10 compiles to
    TakeOrderedAndProject. No window, no cartesian."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.expr("o_orderdate < TIMESTAMP '1998-01-01'"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.expr("l_shipdate > TIMESTAMP '1998-01-01'"))
        .select("l_orderkey", F.expr(_REV).alias("rev"))
    )
    g = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev").alias("rev_d"))
    )
    return (
        g.orderBy(
            F.col("rev_d").desc(), F.col("o_orderdate"), F.col("l_orderkey")
        )
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_d").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


def q220_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade revenue between
    NATION_1 and NATION_2 by ship year — supplier nation × customer
    nation × year, both directions. The two-sided nation predicate is
    the shape that punishes engines which can't push disjunctive
    filters through a 5-way join. Output: one row per (supp_nation,
    cust_nation, year).

    Scale shape: the 25-row nation dim broadcasts onto supplier and
    customer; the fact joins shuffle on their keys (AQE sizes them);
    revenue in exact decimal; the final grid is years × 2 rows."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("l_year"),
        F.expr(_REV).alias("rev"),
    )
    j = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy("supp_nation", "cust_nation", "l_year").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("rev").cast("double").alias("revenue"),
    )


def q227_supplier_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supply-chain concentration histogram: for every part, the share
    of its order lines captured by its BIGGEST supplier, bucketed into
    deciles — the single-source-risk profile (a mass at bucket 9/sole
    suppliers means one failure stops the line; q209's HHI asks the
    same question of corpus sources). The bucket is exact integer
    arithmetic (10·max DIV total, capped at 9). Output: one row per
    decile — part count, sole-supplier count, share of parts.

    Scale shape: two partial aggs ((part,supplier) counts → per-part
    max/total) and a ≤10-row rollup; the denominators broadcast as a
    1-row scalar. No windows, no joins wider than the part frame."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_part = ps.groupBy("l_partkey").agg(
        F.sum("c").alias("tot"),
        F.max("c").alias("maxc"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    hist = per_part.groupBy(
        F.expr("CAST(least(10 * maxc DIV tot, 9) AS INT)").alias(
            "share_bucket"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum((F.col("n_supp") == 1).cast("long")).alias(
            "n_sole_supplier"
        ),
    )
    tot = hist.agg(F.sum("n_parts").alias("t"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "share_bucket",
        "n_parts",
        "n_sole_supplier",
        F.expr(
            "ROUND(CAST(n_parts AS DOUBLE) / CAST(t AS DOUBLE), 6)"
        ).alias("part_share"),
    )


def _register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Session-scoped temp views over the testdata tables, so literal
    ANSI SQL (the TPC-H texts, the q231+ SQL front door) runs against
    the same parquet scans every DataFrame plan uses. Re-registered per
    call: view creation is metadata-only, and re-binding keeps each
    (query, sf_dir) invocation self-contained."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# Shared by the Q2 outer block and its correlated inner: per
# (part, supplier) "supply cost" derived from lineitem (this testdata
# has no partsupp table) — MIN observed extendedprice, cast per-row to
# exact cents BEFORE the MIN so both engines compare identical
# decimals.
_PS_CTE = """
        ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                      MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_cost
               FROM lineitem GROUP BY l_partkey, l_suppkey)"""

_Q228_SQL = f"""
        WITH {_PS_CTE}
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               CAST(ps_cost AS DOUBLE) AS supplycost
        FROM part, ps, supplier, nation, region
        WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
          AND p_type = 'STANDARD' AND p_size <= 10
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND ps_cost = (
              SELECT MIN(ps2.ps_cost)
              FROM ps ps2, supplier s2, nation n2, region r2
              WHERE ps2.ps_partkey = p_partkey
                AND s2.s_suppkey = ps2.ps_suppkey
                AND s2.s_nationkey = n2.n_nationkey
                AND n2.n_regionkey = r2.r_regionkey
                AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """


def q228_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted to this testdata
    schema: no partsupp table exists, so per-(part, supplier) supply
    cost derives from lineitem as MIN(extendedprice-as-cents). For
    STANDARD parts of size <= 10, return every EUROPE supplier whose
    cost EQUALS the minimum cost any EUROPE supplier offers for that
    part — the correlated-min-over-join shape the r07 verdict called
    out as the classic `RewriteCorrelatedScalarSubquery` stressor.

    Runs as literal SQL so Catalyst actually exercises the
    decorrelation path (the DataFrame API cannot express a correlated
    scalar subquery): the rewrite turns the inner MIN into a per-part
    aggregate joined back on p_partkey. Plan pins (tests/
    test_round8_queries.py): no cartesian / nested-loop join anywhere;
    the nation/region dims broadcast.

    Exactness: per-row cast to DECIMAL(18,2) before MIN on BOTH sides
    (the _REV convention), so the equality compare is decimal-exact;
    the top-100 order is fully tiebroken (acctbal DESC, n_name,
    s_name, p_partkey) and the result is 62 rows < 100 at sf0.01."""
    _register_views(
        spark, sf_dir, "part", "supplier", "nation", "region", "lineitem"
    )
    return spark.sql(_Q228_SQL)


def q229_order_count_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    customer→orders with the order filter INSIDE the join condition
    (priority not urgent/high — the testdata has no o_comment), count
    orders per customer INCLUDING zero-order customers, then histogram
    the counts. The outer-join count-distribution shape the r07
    verdict asked for: the ON-clause predicate must stay in the join
    (pushing it to a WHERE would silently drop customers with only
    urgent orders AND the never-ordered), and the optimizer must not
    rewrite the outer join to inner even though the aggregate ignores
    null orderkeys.

    Scale shape: one shuffle on c_custkey for the outer join + count,
    one tiny shuffle on the count value for the histogram; the
    priority filter pushes into the ORDERS side's scan (safe side —
    pinned LeftOuter, tests/test_round8_queries.py)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_Q230_SQL = """
        WITH sq AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(l_quantity AS BIGINT)) AS supp_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_partkey, l_suppkey)
        SELECT s_name, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_regionkey = (SELECT r_regionkey FROM region
                             WHERE r_name = 'EUROPE')
          AND s_suppkey IN (
              SELECT sq.l_suppkey FROM sq
              WHERE sq.l_partkey IN (SELECT p_partkey FROM part
                                     WHERE p_name LIKE 'small%')
                AND sq.supp_qty * 10 > 3 * (
                    SELECT SUM(CAST(l2.l_quantity AS BIGINT))
                    FROM lineitem l2
                    WHERE l2.l_partkey = sq.l_partkey
                      AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
                      AND l2.l_shipdate < TIMESTAMP '1998-01-01'))
    """


def q230_excess_share_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 (excess-stock suppliers), adapted: no partsupp, so
    "availqty > 0.5 * demand" becomes "this supplier shipped > 30% of
    the part's total 1996-97 quantity" — EUROPE suppliers who dominate
    supply of some 'small%' part. Preserves Q20's nested
    double-semi-join chain verbatim: suppliers IN (pairs that are IN a
    part-name filter AND beat a CORRELATED scalar SUM) — the
    `RewritePredicateSubquery` + `RewriteCorrelatedScalarSubquery`
    combination the r07 verdict flagged, run as literal SQL so
    Catalyst performs both rewrites. Plan pins: two LeftSemi joins, no
    cartesian.

    Exactness: quantities are integer-valued, summed as BIGINT; the
    threshold compare is 10·supp > 3·total in pure integers (no 0.3
    float literal — the exactness convention's integer-until-division
    rule, division never needed)."""
    _register_views(
        spark, sf_dir, "supplier", "nation", "region", "part", "lineitem"
    )
    return spark.sql(_Q230_SQL)


def q234_large_order_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18 (large-quantity orders): customers whose orders total
    more than 150 units. The classic text re-joins lineitem after the
    HAVING subquery; Spark-first, ONE aggregation produces the per-order
    sum and the filter — the order frame then joins it directly, so
    lineitem is scanned once and the big-order frame (2.9k rows at
    sf0.01, AQE-broadcast) drives the joins. Quantities are
    integer-valued; the sum and threshold are BIGINT-exact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


def q235_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): revenue
    from three brand/size/quantity bands OR-ed together — the shape
    that punishes engines which can't split a disjunction across a
    join. Catalyst keeps the cross-side disjunction as a post-join
    filter but derives the per-side envelopes (brand IN the three
    values, size/quantity in the union ranges) as scan-level
    constraints; the join itself stays a partkey equi-join with the
    2k-row part side broadcast. Revenue in exact decimal."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.expr(_REV).alias("rev"),
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("qty").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("qty").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("qty").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(band)
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# q236: customers idle since this date still count as active before it
_Q236_CUT = "2000-01-01"
_Q236_NATIONS = (1, 3, 5, 7, 9, 11, 13)
# exact integer cents: price doubles are 2-decimal by generation, so
# cast to DECIMAL(18,2) (the _REV convention) then scale — decimal →
# bigint is exact once integral, avoiding double→bigint truncate/round
# divergence between the engines
_CENTS = "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"


def q236_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global-sales-opportunity), adapted: per nation (the
    phone-prefix stand-in), the count and total balance of customers
    whose balance beats the above-zero average for the nation set and
    who placed NO order since 2000 — scalar-average subquery + anti
    join, the decorrelation pair Q22 exists to stress. The average
    compare is exact: balance_cents · n > total_cents in BIGINT (no
    float average anywhere); the scalar rides a broadcast 1-row cross
    join; the anti join shuffles on custkey.

    Plan pins: LeftAnti preserved, the scalar's crossJoin is broadcast
    (no cartesian of data rows)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(*_Q236_NATIONS))
        .select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.expr(_CENTS).alias("cents"),
        )
    )
    s = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum("cents").alias("sc"), F.count(F.lit(1)).alias("n")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_Q236_CUT).cast("timestamp"))
        .select("o_custkey")
    )
    idle = c.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        idle.crossJoin(F.broadcast(s))
        .filter(F.col("cents") * F.col("n") > F.col("sc"))
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


def q237_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted over lineitem (no partsupp):
    parts whose revenue exceeds 1/1500 of TOTAL revenue — per-group
    aggregate filtered against a global scalar. Exactness: revenue in
    0.1-millicent BIGINT units (4 decimal digits scaled integral), so
    the fraction test is v·1500 > total in pure integers — a
    decimal×1500 would need precision > 38, which one engine rejects
    and the other saturates. Scalar total rides a broadcast 1-row
    cross join; one shuffle on partkey."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(f"CAST(CAST({_REV} AS DECIMAL(18,4)) * 10000 AS BIGINT)").alias(
            "v4"
        ),
    )
    pv = li.groupBy("l_partkey").agg(F.sum("v4").alias("v"))
    tot = pv.agg(F.sum("v").alias("t"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("v") * 1500 > F.col("t"))
        .select(
            "l_partkey",
            (F.col("v").cast("double") / 10000).alias("part_value"),
        )
    )


def q238_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), adapted: within orders placed
    by EUROPE customers, NATION_3 suppliers' share of revenue per order
    year. The two-level conditional aggregate (CASE inside the ratio)
    over a 4-way star; nation/region broadcast onto both supplier and
    customer sides. Numerator and denominator accumulate as exact
    decimals; the final ratio divides the two exact doubles with the
    same formula string on both engines."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    cust_eu = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.expr(_REV).alias("rev")
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_eu, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    g = j.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", F.col("rev")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        )
        .cast("double")
        .alias("num_d"),
        F.sum("rev").cast("double").alias("total_revenue"),
    )
    return g.select(
        "o_year",
        (F.col("num_d") / F.col("total_revenue")).alias("mkt_share"),
        "total_revenue",
    )


# --- round 8 batch 2: the eight TPC-H shapes that complete the 22 ---
# Q4, Q6, Q9, Q10, Q12, Q14, Q15, Q16 adapted to this testdata schema
# (no partsupp / l_commitdate / l_shipmode; adaptations documented per
# query). With these, every one of the 22 TPC-H query shapes has an
# oracle-matched twin in the registry.

_Q243_SQL_SPARK = """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL '60' DAY)
        GROUP BY o_orderpriority
    """


def q243_priority_delay_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted: lineitem has no
    commitdate/receiptdate, so "late" = shipped more than 60 days
    after the order date — which makes the EXISTS subquery correlate
    on BOTH an equality (orderkey) and an inequality that references
    the OUTER table's o_orderdate. Runs as literal SQL so Catalyst
    exercises `RewritePredicateSubquery` with a non-equi conjunct: the
    rewrite must keep the inequality in the LeftSemi join condition
    (pinned, tests/test_round8_queries.py) rather than dropping or
    pre-filtering it. One semi-join shuffle on orderkey, then a tiny
    5-group aggregate; the date range pushes into the orders scan."""
    _register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_Q243_SQL_SPARK)


def q244_discount_revenue_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): scan-only aggregate —
    what revenue was given away as discount in 1996 on mid-discount,
    small-quantity lines. No join at all: the yardstick query for
    predicate pushdown + whole-stage codegen (all three filters reach
    the parquet scan; only 4 columns read). Exactness: the discount
    band compares DECIMAL(18,2) images (a raw double BETWEEN 0.05 AND
    0.07 would hinge on binary-fraction luck); revenue is the exact
    4-decimal product ext·disc summed as decimal, cast to double
    once."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.expr("CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07")
            & (F.col("l_quantity").cast("bigint") < 24)
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(l_extendedprice AS DECIMAL(18,2))"
                    " * CAST(l_discount AS DECIMAL(18,2))"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# exact 0.1-millicent ledger terms shared by q245/q246/q248: revenue
# (4 true decimals) and a unit supply cost of p_retailprice/10 (3 true
# decimals), both as BIGINT e4 units so sums/compares are integer-exact
_REV_E4 = f"CAST(CAST({_REV} AS DECIMAL(18,4)) * 10000 AS BIGINT)"
_COST_E4 = (
    "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " * 10 * CAST(l_quantity AS BIGINT)"
)


def q245_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: no partsupp, so the
    supply cost of a line is p_retailprice/10 per unit; profit =
    revenue − cost, for parts named 'red %', grouped by the SUPPLIER's
    nation and order year. The 5-way star: part/supplier/nation
    broadcast onto the lineitem scan (the part name filter prunes
    lineitem FIRST), then one shuffle joins orders for the year.
    Exactness: both terms live in BIGINT e4 units (_REV_E4/_COST_E4),
    so the per-group profit sum is integer-exact and order-independent;
    ONE cast to double at output."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red %")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey", "p_retailprice")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    j = (
        li.select(
            "l_orderkey",
            "l_suppkey",
            (F.expr(_REV_E4) - F.expr(_COST_E4)).alias("profit_e4"),
        )
        .join(
            F.broadcast(
                s.join(
                    F.broadcast(n),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(F.sum("profit_e4").alias("p4"))
        .select(
            "nation",
            "o_year",
            (F.col("p4").cast("double") / 10000).alias("sum_profit"),
        )
    )


def q246_returned_item_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    lost to returns (l_returnflag = 'R') on Q4-1996 orders. The
    fact-fact join shuffles on orderkey; the customer/nation dims
    broadcast; the top-20 is a TakeOrderedAndProject (pinned — no
    global sort materializes). Exactness: revenue ranks by its BIGINT
    e4 image with a custkey tiebreak, so the SELECTED set is
    deterministic cross-engine; double conversion happens after the
    cut."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", F.expr(_REV_E4).alias("rev_e4"))
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    g = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum("rev_e4").alias("rev_e4")
    )
    return (
        g.orderBy(F.desc("rev_e4"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            (F.col("rev_e4").cast("double") / 10000).alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


def q247_late_shipment_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority), adapted: no
    l_shipmode column, so the grouping dimension is l_linestatus and
    "late" = shipped more than 90 days after the order date. Counts
    critical- vs normal-priority orders among 1996's late lines — the
    conditional-aggregate-over-join shape. One shuffle on orderkey;
    the shipdate range pushes into the lineitem scan while the
    cross-table lateness predicate evaluates post-join. Pure integer
    outputs."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL '90' DAY")
    )
    return late.groupBy("l_linestatus").agg(
        F.sum(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0)
        ).alias("high_line_count"),
        F.sum(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0
            ).otherwise(1)
        ).alias("low_line_count"),
    )


def q248_promo_revenue_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q14 (promotion effect): the share of September-1996
    revenue that came from PROMO-type parts. Broadcast part join onto
    the month-pruned lineitem scan; ONE conditional aggregate produces
    numerator and denominator together (the classic two-scan phrasing
    is one scan here). Exactness: both sums are BIGINT e4 ledgers; the
    percentage divides their exact double images with the same formula
    string on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    g = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(
                    F.col("p_type") == "PROMO", F.expr(_REV_E4)
                ).otherwise(F.lit(0).cast("bigint"))
            ).alias("promo_e4"),
            F.sum(F.expr(_REV_E4)).alias("total_e4"),
        )
    )
    return g.select(
        (F.col("promo_e4").cast("double") / 10000).alias("promo_revenue"),
        (F.col("total_e4").cast("double") / 10000).alias("total_revenue"),
        (
            F.col("promo_e4").cast("double")
            * 100
            / F.col("total_e4").cast("double")
        ).alias("promo_share"),
    )


_Q249_SQL = f"""
        WITH r AS (
            SELECT l_suppkey,
                   CAST(SUM({_REV}) AS DECIMAL(18,4)) AS rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
        FROM supplier JOIN r ON s_suppkey = l_suppkey
        WHERE rev = (SELECT MAX(rev) FROM r)
    """


def q249_top_revenue_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose Q1-1996 revenue
    equals the global maximum — the view + uncorrelated scalar
    subquery shape. Literal SQL so Catalyst plans the scalar MAX as a
    broadcast 1-row subquery result over the re-used revenue CTE;
    plan pin: no cartesian / nested-loop join. Exactness: revenues
    compare as DECIMAL(18,4) (the exact 4-decimal sum), so the
    max-equality never hinges on a double ulp; the only double is the
    output column."""
    _register_views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_Q249_SQL)


def q250_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: supplier
    offerings derive from DISTINCT (partkey, suppkey) lineitem pairs
    (no partsupp), excluded suppliers are those with negative account
    balance (no s_comment to grep), and the count-distinct histogram
    runs per (brand, type, size) over the usual Q16 filter. The NOT IN
    becomes a broadcast LeftAnti (pinned); part is a broadcast join;
    the only big shuffle deduplicates the pair set, and the
    count-distinct re-shuffles the surviving ~50k pairs."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        pairs.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q267_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frames: for every event, the count and exact
    cent sum of the SAME user's events in the strictly-preceding hour
    — the per-row trailing-window feature (velocity/fraud signals)
    that ROWS frames cannot express when event spacing is irregular.
    The frame is `RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING`
    over exact epoch micros: the 1-µs upper bound excludes the row
    itself AND simultaneous events identically on both engines (a
    CURRENT ROW bound would include ties and diverge from "strictly
    before").

    Scale shape: ONE window shuffle hash-partitioned by user_id; each
    user's timeline sorts locally — q50's contract with a range frame
    instead of lag."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3600000000, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias(
            "n_prev_hour"
        ),
        F.coalesce(F.sum("cents").over(w), F.lit(0))
        .cast("bigint")
        .alias("cents_prev_hour"),
    )


def q275_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star's foreign keys:
    for each child→parent relationship (lineitem→orders,
    lineitem→part, lineitem→supplier, orders→customer,
    customer→nation, supplier→nation), the child row count, the
    orphan count (child keys with no parent — LEFT ANTI against the
    parent key set), and distinct orphan keys. The pre-flight a
    warehouse runs before trusting its joins: an inner join silently
    DROPS orphans, so q55's revenue is only correct if this report
    says zero.

    Scale shape: each anti join shuffles on its key (or broadcasts
    the dim-side parent keys); the six relationships are independent
    unions of 1-row aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rels = [
        ("lineitem->orders", li, "l_orderkey", o, "o_orderkey", False),
        ("lineitem->part", li, "l_partkey",
         load_table(spark, sf_dir, "part"), "p_partkey", True),
        ("lineitem->supplier", li, "l_suppkey", s, "s_suppkey", True),
        ("orders->customer", o, "o_custkey", c, "c_custkey", False),
        ("customer->nation", c, "c_nationkey", n, "n_nationkey", True),
        ("supplier->nation", s, "s_nationkey", n, "n_nationkey", True),
    ]
    parts = []
    for name, child, ck, parent, pk, bcast in rels:
        pkeys = parent.select(F.col(pk).alias("_pk")).distinct()
        if bcast:
            pkeys = F.broadcast(pkeys)
        orphans = child.select(F.col(ck).alias("_ck")).join(
            pkeys, F.col("_ck") == F.col("_pk"), "left_anti"
        )
        parts.append(
            child.agg(
                F.lit(name).alias("relationship"),
                F.count(F.lit(1)).alias("n_child"),
            ).crossJoin(
                F.broadcast(
                    orphans.agg(
                        F.count(F.lit(1)).alias("n_orphans"),
                        F.countDistinct("_ck").alias("n_orphan_keys"),
                    )
                )
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q277_arrow_group_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped operator on the Arrow path: per-user median
    absolute deviation of spend cents, computed by numpy inside
    ``groupBy().applyInPandas`` — the (b) lane of the custom-operator
    policy (a Python kernel Spark lacks, Arrow-batched per group,
    never row-at-a-time). The kernel uses the LOWER (type-1) median on
    exact integer cents, so the result is integer-exact and the full
    DuckDB oracle states the same definition with rank windows — the
    differential certifies the Arrow exchange itself, not just the
    plan around it.

    Scale shape: ONE shuffle on user_id; each group's kernel is O(n
    log n) in its own rows; output is one row per user. The sibling
    q131 computes global MAD relationally — this one exists to verify
    the applyInPandas lane end to end on a relational query."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        c = np.sort(pdf["cents"].to_numpy())
        n = len(c)
        med = int(c[(n - 1) // 2])
        dev = np.sort(np.abs(c - med))
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n": [n],
                "med_cents": [med],
                "mad_cents": [int(dev[(n - 1) // 2])],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        kernel,
        "user_id bigint, n bigint, med_cents bigint, mad_cents bigint",
    )


def q278_static_partition_prune(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Static partition pruning: events written partitioned by
    event_type, then filtered on two types — the scan must list ONLY
    those two directories at PLANNING time (PartitionCount: 2 in the
    scan node; q257 is the runtime/dynamic sibling where the filter
    arrives through a join). The everyday 100 TB discipline: filter
    columns you partitioned by never cost a full listing, let alone a
    full read.

    The q242/q257/q265 layout convention: session-temp path tagged by
    sf_dir, idempotent overwrite; the oracle computes from the raw
    table, so the differential certifies layout changed the PLAN, not
    the answer."""
    import os as _os

    from .layout import session_layout_base as _slb

    path = _os.path.join(_slb(spark, "spp_tables", sf_dir), "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(path)
    )
    part = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return part.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(
            F.expr("CAST(round(value * 100, 0) AS BIGINT)")
        ).alias("sum_cents"),
    )


QUERIES = {
    "q211_json_field_stats": q211_json_field_stats,
    "q277_arrow_group_mad": q277_arrow_group_mad,
    "q278_static_partition_prune": q278_static_partition_prune,
    "q275_fk_integrity": q275_fk_integrity,
    "q267_time_range_window": q267_time_range_window,
    "q243_priority_delay_audit": q243_priority_delay_audit,
    "q244_discount_revenue_forecast": q244_discount_revenue_forecast,
    "q245_nation_profit": q245_nation_profit,
    "q246_returned_item_revenue": q246_returned_item_revenue,
    "q247_late_shipment_priority": q247_late_shipment_priority,
    "q248_promo_revenue_share": q248_promo_revenue_share,
    "q249_top_revenue_supplier": q249_top_revenue_supplier,
    "q250_supplier_part_counts": q250_supplier_part_counts,
    "q234_large_order_customers": q234_large_order_customers,
    "q235_disjunctive_revenue": q235_disjunctive_revenue,
    "q236_idle_rich_customers": q236_idle_rich_customers,
    "q237_important_parts": q237_important_parts,
    "q238_market_share": q238_market_share,
    "q228_min_cost_supplier": q228_min_cost_supplier,
    "q229_order_count_distribution": q229_order_count_distribution,
    "q230_excess_share_supplier": q230_excess_share_supplier,
    "q219_shipping_priority": q219_shipping_priority,
    "q220_nation_volume": q220_nation_volume,
    "q227_supplier_concentration": q227_supplier_concentration,
    "q48_cube": q48_cube,
    "q49_decile_stats": q49_decile_stats,
    "q50_event_gaps": q50_event_gaps,
    "q51_quality_score": q51_quality_score,
    "q190_filter_funnel": q190_filter_funnel,
    "q52_stratified_sample": q52_stratified_sample,
    "q53_repetition_stats": q53_repetition_stats,
    "q54_moving_window": q54_moving_window,
    "q55_bigjoin_revenue": q55_bigjoin_revenue,
    "q56_correlated_subquery": q56_correlated_subquery,
    "q57_windowed_counts": q57_windowed_counts,
    "q58_session_windows": q58_session_windows,
    "q59_frame_sample": q59_frame_sample,
    "q61_bpe_token_count": q61_bpe_token_count,
    "q62_approx_quantiles": q62_approx_quantiles,
    "q63_contamination": q63_contamination,
    "q64_rare_term_weights": q64_rare_term_weights,
    "q65_global_rank": q65_global_rank,
    "q66_label_centroids": q66_label_centroids,
    "q129_centroid_similarity": q129_centroid_similarity,
    "q168_label_mmd": q168_label_mmd,
    "q175_local_supplier_volume": q175_local_supplier_volume,
    "q177_exclusive_fault_supplier": q177_exclusive_fault_supplier,
    "q178_small_quantity_revenue": q178_small_quantity_revenue,
    "q186_lateral_topk": q186_lateral_topk,
    "q187_null_semantics": q187_null_semantics,
    "q142_embedding_dim_health": q142_embedding_dim_health,
    "q144_grouping_sets": q144_grouping_sets,
    "q67_window_gauntlet": q67_window_gauntlet,
    "q68_bigram_stats": q68_bigram_stats,
    "q69_salted_join": q69_salted_join,
}

ORACLE = {
    "q234_large_order_customers": """
        WITH big AS (
            SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS BIGINT)) > 150)
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """,
    "q235_disjunctive_revenue": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30)
    """,
    "q236_idle_rich_customers": f"""
        WITH c AS (
            SELECT c_custkey, c_nationkey, c_acctbal, {_CENTS} AS cents
            FROM customer WHERE c_nationkey IN {_Q236_NATIONS}),
        s AS (SELECT CAST(SUM(cents) AS BIGINT) AS sc, COUNT(*) AS n
              FROM c WHERE c_acctbal > 0),
        idle AS (
            SELECT c.* FROM c
            ANTI JOIN (SELECT o_custkey FROM orders
                       WHERE o_orderdate >= TIMESTAMP '{_Q236_CUT}') o
              ON c_custkey = o_custkey)
        SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS totacctbal
        FROM idle, s WHERE cents * n > sc
        GROUP BY c_nationkey
    """,
    "q237_important_parts": f"""
        WITH pv AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(CAST({_REV} AS DECIMAL(18,4)) * 10000
                                 AS BIGINT)) AS BIGINT) AS v
            FROM lineitem GROUP BY l_partkey),
        tot AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM pv)
        SELECT l_partkey, CAST(v AS DOUBLE) / 10000 AS part_value
        FROM pv, tot WHERE v * 1500 > t
    """,
    "q238_market_share": f"""
        WITH eu AS (SELECT n_nationkey FROM nation
                    JOIN region ON n_regionkey = r_regionkey
                    WHERE r_name = 'EUROPE'),
        j AS (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   n_name AS supp_nation,
                   {_REV} AS rev
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            SEMI JOIN (SELECT c_custkey FROM customer
                       SEMI JOIN eu ON c_nationkey = n_nationkey) ce
              ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey)
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                   / CAST(SUM(rev) AS DOUBLE) AS mkt_share,
               CAST(SUM(rev) AS DOUBLE) AS total_revenue
        FROM j GROUP BY o_year
    """,
    "q277_arrow_group_mad": """
        WITH c AS (
            SELECT user_id,
                   CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events),
        r AS (
            SELECT user_id, cents,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY cents) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM c),
        med AS (SELECT user_id, cents AS med_cents, n FROM r
                WHERE rn = (n + 1) // 2),
        d AS (
            SELECT c.user_id, ABS(c.cents - med_cents) AS dev,
                   med_cents, n
            FROM c JOIN med USING (user_id)),
        r2 AS (
            SELECT user_id, dev, med_cents, n,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY dev) AS rn2
            FROM d)
        SELECT user_id, CAST(n AS BIGINT) AS n, med_cents,
               dev AS mad_cents
        FROM r2 WHERE rn2 = (n + 1) // 2
    """,
    "q278_static_partition_prune": """
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    """,
    "q275_fk_integrity": """
        WITH rel AS (
            SELECT 'lineitem->orders' AS relationship,
                   (SELECT COUNT(*) FROM lineitem) AS n_child,
                   (SELECT COUNT(*) FROM lineitem
                    ANTI JOIN orders ON l_orderkey = o_orderkey)
                       AS n_orphans,
                   (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
                    ANTI JOIN orders ON l_orderkey = o_orderkey)
                       AS n_orphan_keys
            UNION ALL
            SELECT 'lineitem->part',
                   (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem
                    ANTI JOIN part ON l_partkey = p_partkey),
                   (SELECT COUNT(DISTINCT l_partkey) FROM lineitem
                    ANTI JOIN part ON l_partkey = p_partkey)
            UNION ALL
            SELECT 'lineitem->supplier',
                   (SELECT COUNT(*) FROM lineitem),
                   (SELECT COUNT(*) FROM lineitem
                    ANTI JOIN supplier ON l_suppkey = s_suppkey),
                   (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem
                    ANTI JOIN supplier ON l_suppkey = s_suppkey)
            UNION ALL
            SELECT 'orders->customer',
                   (SELECT COUNT(*) FROM orders),
                   (SELECT COUNT(*) FROM orders
                    ANTI JOIN customer ON o_custkey = c_custkey),
                   (SELECT COUNT(DISTINCT o_custkey) FROM orders
                    ANTI JOIN customer ON o_custkey = c_custkey)
            UNION ALL
            SELECT 'customer->nation',
                   (SELECT COUNT(*) FROM customer),
                   (SELECT COUNT(*) FROM customer
                    ANTI JOIN nation ON c_nationkey = n_nationkey),
                   (SELECT COUNT(DISTINCT c_nationkey) FROM customer
                    ANTI JOIN nation ON c_nationkey = n_nationkey)
            UNION ALL
            SELECT 'supplier->nation',
                   (SELECT COUNT(*) FROM supplier),
                   (SELECT COUNT(*) FROM supplier
                    ANTI JOIN nation ON s_nationkey = n_nationkey),
                   (SELECT COUNT(DISTINCT s_nationkey) FROM supplier
                    ANTI JOIN nation ON s_nationkey = n_nationkey))
        SELECT relationship, CAST(n_child AS BIGINT) AS n_child,
               CAST(n_orphans AS BIGINT) AS n_orphans,
               CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys
        FROM rel
    """,
    "q267_time_range_window": """
        SELECT event_id, user_id,
               CAST(COALESCE(COUNT(*) OVER w, 0) AS BIGINT)
                   AS n_prev_hour,
               CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT)
                   AS cents_prev_hour
        FROM (SELECT event_id, user_id, epoch_us(ts) AS us,
                     CAST(round(value * 100, 0) AS BIGINT) AS cents
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN 3600000000 PRECEDING
                               AND 1 PRECEDING)
    """,
    "q243_priority_delay_audit": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    "q244_discount_revenue_forecast": """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
          AND CAST(l_quantity AS BIGINT) < 24
    """,
    "q245_nation_profit": f"""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM({_REV_E4} - {_COST_E4}) AS DOUBLE) / 10000
                   AS sum_profit
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        WHERE p_name LIKE 'red %'
        GROUP BY n_name, 2
    """,
    "q246_returned_item_revenue": f"""
        WITH g AS (
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(SUM({_REV_E4}) AS BIGINT) AS rev_e4
            FROM lineitem
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-10-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name)
        SELECT c_custkey, c_name,
               CAST(rev_e4 AS DOUBLE) / 10000 AS revenue,
               c_acctbal, n_name
        FROM g ORDER BY rev_e4 DESC, c_custkey LIMIT 20
    """,
    "q247_late_shipment_priority": """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_line_count
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY l_linestatus
    """,
    "q248_promo_revenue_share": f"""
        WITH g AS (
            SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_E4}
                                 ELSE 0 END) AS BIGINT) AS promo_e4,
                   CAST(SUM({_REV_E4}) AS BIGINT) AS total_e4
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01'
              AND l_shipdate < TIMESTAMP '1996-10-01')
        SELECT CAST(promo_e4 AS DOUBLE) / 10000 AS promo_revenue,
               CAST(total_e4 AS DOUBLE) / 10000 AS total_revenue,
               CAST(promo_e4 AS DOUBLE) * 100 / CAST(total_e4 AS DOUBLE)
                   AS promo_share
        FROM g
    """,
    "q249_top_revenue_supplier": _Q249_SQL,
    "q250_supplier_part_counts": """
        WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM pairs
        JOIN part ON p_partkey = l_partkey
        ANTI JOIN bad ON l_suppkey = s_suppkey
        WHERE p_brand <> 'Brand#1'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 4, 7, 10, 13, 16, 19, 25)
        GROUP BY p_brand, p_type, p_size
    """,
    # q228/q230 run as literal SQL on the Spark side; the oracle is the
    # SAME text (both are plain ANSI), so any drift is engine drift.
    "q228_min_cost_supplier": _Q228_SQL,
    "q229_order_count_distribution": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey
               AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
              GROUP BY c_custkey)
        GROUP BY c_count
    """,
    "q230_excess_share_supplier": _Q230_SQL,
    "q227_supplier_concentration": """
        WITH ps AS (
            SELECT l_partkey, l_suppkey, COUNT(*) AS c
            FROM lineitem GROUP BY l_partkey, l_suppkey),
        per_part AS (
            SELECT l_partkey,
                   CAST(SUM(c) AS BIGINT) AS tot,
                   CAST(MAX(c) AS BIGINT) AS maxc,
                   CAST(COUNT(*) AS BIGINT) AS n_supp
            FROM ps GROUP BY l_partkey),
        hist AS (
            SELECT CAST(LEAST(10 * maxc // tot, 9) AS INT)
                       AS share_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_sole_supplier
            FROM per_part GROUP BY 1),
        t AS (SELECT CAST(SUM(n_parts) AS BIGINT) AS t FROM hist)
        SELECT share_bucket, n_parts, n_sole_supplier,
               ROUND(CAST(n_parts AS DOUBLE) / CAST(t.t AS DOUBLE), 6)
                   AS part_share
        FROM hist, t
    """,
    "q219_shipping_priority": f"""
        SELECT l.l_orderkey,
               CAST(SUM({_REV}) AS DOUBLE) AS revenue,
               o.o_orderdate,
               o.o_orderpriority
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
          AND EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey
                        AND c.c_mktsegment = 'BUILDING')
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY SUM({_REV}) DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10
    """,
    "q220_nation_volume": f"""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM({_REV}) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        WHERE sn.n_name IN ('NATION_1', 'NATION_2')
          AND cn.n_name IN ('NATION_1', 'NATION_2')
          AND sn.n_name <> cn.n_name
        GROUP BY sn.n_name, cn.n_name, 3
    """,
    "q211_json_field_stats": """
        WITH t AS (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(k) AS BIGINT) AS n_with_k,
               MIN(k) AS min_k,
               MAX(k) AS max_k,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CASE WHEN COUNT(k) > 0 THEN
                   ROUND(CAST(SUM(k) AS DOUBLE) / CAST(COUNT(k) AS DOUBLE),
                         6)
               ELSE NULL END AS mean_k
        FROM t GROUP BY event_type
    """,
    "q48_cube": """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(y, -1) AS y,
               2 * GROUPING(o_orderstatus) + GROUPING(y) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM (SELECT o_orderstatus, year(o_orderdate) AS y, o_totalprice
              FROM orders)
        GROUP BY CUBE(o_orderstatus, y)
    """,
    "q49_decile_stats": """
        WITH tiled AS (
            SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                   NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
                       AS decile
            FROM orders)
        SELECT decile,
               COUNT(*) AS n_orders,
               CAST(MIN(price) AS DOUBLE) AS min_price,
               CAST(MAX(price) AS DOUBLE) AS max_price,
               CAST(SUM(price) AS DOUBLE) AS sum_price
        FROM tiled
        GROUP BY decile
    """,
    "q50_event_gaps": """
        WITH gaps AS (
            SELECT user_id,
                   epoch_us(lead(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id))
                     - epoch_us(ts) AS gap_us
            FROM events)
        SELECT user_id,
               COUNT(*) AS n_gaps,
               CAST(SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_long_gaps,
               CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
               CAST(SUM(gap_us) AS DOUBLE) / (COUNT(*) * 1000000.0)
                   AS avg_gap_s
        FROM gaps
        WHERE gap_us IS NOT NULL
        GROUP BY user_id
    """,
    "q190_filter_funnel": f"""
        WITH feats AS (
            SELECT doc_id, source,
                   len({_TOK}) AS n_tokens,
                   CAST(length(regexp_extract_all(text, '[^\\w\\s]'))
                        AS DOUBLE) / length(text) AS punct_ratio,
                   CAST(len(list_filter({_TOK},
                            t -> t IN {_STOP_SQL})) AS DOUBLE)
                       / len({_TOK}) AS stop_ratio,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                        AS DOUBLE) / len({_TOK}) AS avg_tok_len
            FROM documents),
        staged AS (
            SELECT source,
                   CASE WHEN NOT (n_tokens BETWEEN 10 AND 1000) THEN 0
                        WHEN NOT (punct_ratio <= 0.1) THEN 1
                        WHEN NOT (stop_ratio >= 0.03) THEN 2
                        WHEN NOT (avg_tok_len <= 12) THEN 3
                        ELSE 4 END AS stage_idx
            FROM feats),
        grid AS (
            SELECT source, stage_idx, COUNT(*) AS n_docs
            FROM staged GROUP BY source, stage_idx),
        totals AS (
            SELECT source, SUM(n_docs) AS n_src FROM grid
            GROUP BY source)
        SELECT g.source,
               g.stage_idx,
               ['length', 'punctuation', 'stopwords', 'word_length',
                'pass'][g.stage_idx + 1] AS stage,
               g.n_docs,
               ROUND(CAST(g.n_docs AS DOUBLE) / t.n_src, 6) AS frac
        FROM grid g JOIN totals t ON g.source = t.source
    """,
    "q51_quality_score": f"""
        WITH feats AS (
            SELECT doc_id,
                   len({_TOK}) AS n_tokens,
                   CAST(length(regexp_extract_all(text, '[^\\w\\s]'))
                        AS DOUBLE) / length(text) AS punct_ratio,
                   CAST(len(list_filter({_TOK},
                            t -> t IN {_STOP_SQL})) AS DOUBLE)
                       / len({_TOK}) AS stop_ratio,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                        AS DOUBLE) / len({_TOK}) AS avg_tok_len
            FROM documents)
        SELECT doc_id,
               n_tokens,
               (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
                + CASE WHEN punct_ratio <= 0.1 THEN 1 ELSE 0 END
                + CASE WHEN stop_ratio >= 0.03 THEN 1 ELSE 0 END
                + CASE WHEN avg_tok_len <= 12 THEN 1 ELSE 0 END)
                   AS quality_score,
               (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
                + CASE WHEN punct_ratio <= 0.1 THEN 1 ELSE 0 END
                + CASE WHEN stop_ratio >= 0.03 THEN 1 ELSE 0 END
                + CASE WHEN avg_tok_len <= 12 THEN 1 ELSE 0 END) = 4
                   AS keep
        FROM feats
    """,
    "q52_stratified_sample": """
        WITH ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS n_src
            FROM documents)
        SELECT doc_id, source, rn
        FROM ranked
        WHERE rn <= CAST(ceil(n_src * 0.1) AS BIGINT)
    """,
    "q53_repetition_stats": f"""
        WITH per_tok AS (
            SELECT doc_id, w, COUNT(*) AS c
            FROM (SELECT doc_id, unnest({_TOK}) AS w FROM documents)
            GROUP BY doc_id, w)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
               CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                   AS top_token_share
        FROM per_tok
        GROUP BY doc_id
    """,
    "q57_windowed_counts": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
                   AS window_end,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    "q58_session_windows": """
        WITH marked AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             >= 14400000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
            SELECT user_id, ts, value,
                   CAST(SUM(new_s) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS session_idx
            FROM marked)
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '4 hours' AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   AS sum_value
        FROM numbered
        GROUP BY user_id, session_idx
    """,
    "q59_frame_sample": """
        SELECT doc_id AS media_id,
               CAST(i AS INT) AS frame_idx,
               CAST(i * 1000 AS INT) AS frame_ms
        FROM documents,
             UNNEST(range(0, GREATEST((doc_id % 5) * 1700 // 1000, 1)))
                 AS t(i)
    """,
    "q61_bpe_token_count": f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}'))
                   AS n_pieces,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
               CAST(len(regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}'))
                    AS DOUBLE)
                   / len(string_split_regex(lower(trim(text)), '\\s+'))
                   AS pieces_per_word
        FROM documents
    """,
    "q56_correlated_subquery": """
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders o
        WHERE CAST(o_totalprice AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM orders i
                 WHERE i.o_custkey = o.o_custkey)
              > (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FROM orders i
                 WHERE i.o_custkey = o.o_custkey)
    """,
    "q55_bigjoin_revenue": """
        SELECT year(o.o_orderdate) AS y,
               c.c_mktsegment,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l.l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    """,
    "q63_contamination": f"""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len({_TOK}) - 3),
                       i -> array_to_string(({_TOK})[i:i+4], ' ')))
                       AS shs
            FROM documents),
        t AS (SELECT doc_id, unnest(shs) AS sh FROM sh
              WHERE doc_id % 10 = 0),
        tr AS (SELECT DISTINCT unnest(shs) AS sh FROM sh
               WHERE doc_id % 10 <> 0)
        SELECT t.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               CAST(SUM(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS contamination_rate
        FROM t LEFT JOIN tr ON t.sh = tr.sh
        GROUP BY t.doc_id
    """,
    "q64_rare_term_weights": f"""
        WITH tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
            GROUP BY doc_id, term),
        dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        ranked AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfr.df, n.n_docs,
                   ROW_NUMBER() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, dfr.df ASC, tf.term ASC)
                       AS rank
            FROM tf JOIN dfr USING (term) CROSS JOIN n)
        SELECT doc_id, term, rank, tf, df,
               CAST(tf AS DOUBLE) * CAST(n_docs + 1 AS DOUBLE)
                   / CAST(df + 1 AS DOUBLE) AS rarity_weight
        FROM ranked
        WHERE rank <= 3
    """,
    "q65_global_rank": """
        SELECT o_orderkey,
               CAST(o_totalprice AS DOUBLE) AS price,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey)
                   AS BIGINT) AS global_rank
        FROM orders
    """,
    "q66_label_centroids": """
        WITH e AS (SELECT label,
                          generate_subscripts(embedding, 1) AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        per AS (
            SELECT label, pos,
                   ROUND(CAST(SUM(CAST(v AS DECIMAL(38,25))) AS DOUBLE)
                       / COUNT(*), 6) AS m,
                   COUNT(*) AS c
            FROM e
            GROUP BY label, pos)
        SELECT label,
               list(m ORDER BY pos) AS centroid,
               CAST(MAX(c) AS BIGINT) AS n_vecs
        FROM per
        GROUP BY label
    """,
    "q144_grouping_sets": """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """,
    "q142_embedding_dim_health": f"""
        WITH e AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        per AS (
            SELECT pos, COUNT(*) AS c,
                   SUM(CAST(v AS DECIMAL(38,25))) AS s1,
                   SUM(CAST(ROUND(v * v, 12) AS DECIMAL(18,12))) AS s2,
                   CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_zero,
                   MIN(v) AS min_v, MAX(v) AS max_v
            FROM e GROUP BY pos)
        SELECT pos, c,
               ROUND(CAST(s1 AS DOUBLE) / CAST(c AS DOUBLE), 6)
                   AS mean_v,
               {_DIM_VAR} AS var_v,
               ROUND(CAST(n_zero AS DOUBLE) / CAST(c AS DOUBLE), 6)
                   AS zero_rate,
               min_v, max_v
        FROM per
    """,
    "q175_local_supplier_volume": """
        SELECT n.n_name AS n_name,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
    """,
    "q177_exclusive_fault_supplier": """
        SELECT s.s_name AS s_name,
               COUNT(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
    """,
    "q186_lateral_topk": """
        SELECT c.c_custkey, c.c_mktsegment,
               t.o_orderkey, t.rk,
               CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                   AS price
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice,
                        ROW_NUMBER() OVER (
                            ORDER BY o_totalprice DESC, o_orderkey)
                            AS rk
                 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) t
    """,
    "q187_null_semantics": """
        WITH o2 AS (
            SELECT NULLIF(o_orderstatus, 'O') AS st, o_orderpriority
            FROM orders),
        g AS (SELECT st, o_orderpriority, COUNT(*) AS c
              FROM o2 GROUP BY st, o_orderpriority),
        ns AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS np,
                   CAST(SUM(CASE WHEN a.st IS NULL AND b.st IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS nn
            FROM g a JOIN g b ON a.st IS NOT DISTINCT FROM b.st),
        sc AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(st) AS BIGINT) AS n_nonnull,
                   CAST(SUM(CASE WHEN st IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT st) AS BIGINT) AS n_distinct,
                   MAX(st) AS max_st
            FROM o2),
        ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_status_groups
               FROM (SELECT st FROM g GROUP BY st) u)
        SELECT sc.n_rows, sc.n_nonnull, sc.n_null, sc.n_distinct,
               ng.n_status_groups, ns.np AS n_nullsafe_pairs,
               ns.nn AS n_null_null_pairs, sc.max_st
        FROM sc CROSS JOIN ng CROSS JOIN ns
    """,
    "q178_small_quantity_revenue": """
        SELECT COUNT(*) AS n_small,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_price,
               ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) / 7.0, 6) AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND CAST(l.l_quantity AS BIGINT) <
              (SELECT 0.2 * AVG(CAST(l2.l_quantity AS BIGINT))
               FROM lineitem l2
               WHERE l2.l_partkey = l.l_partkey)
    """,
    "q168_label_mmd": f"""
        WITH e AS (SELECT label,
                          generate_subscripts(embedding, 1) AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        per AS (
            SELECT label, pos,
                   ROUND(CAST(SUM(CAST(v AS DECIMAL(38,25))) AS DOUBLE)
                       / COUNT(*), 6) AS m,
                   COUNT(*) AS c
            FROM e
            GROUP BY label, pos),
        pr AS (
            SELECT a.label AS label_a, b.label AS label_b,
                   a.c AS ca, b.c AS cb,
                   a.m AS ma, b.m AS mb
            FROM per a JOIN per b ON b.pos = a.pos
            WHERE a.label < b.label)
        SELECT label_a, label_b,
               CAST(MAX(ca) AS BIGINT) AS n_a,
               CAST(MAX(cb) AS BIGINT) AS n_b,
               ROUND(CAST(SUM({_MMD_TERM}) AS DOUBLE), 6) AS mmd2
        FROM pr
        GROUP BY label_a, label_b
    """,
    "q129_centroid_similarity": f"""
        WITH e AS (SELECT label,
                          generate_subscripts(embedding, 1) AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        per AS (
            SELECT label, pos,
                   CAST(ROUND(CAST(SUM(CAST(v AS DECIMAL(38,25))) AS DOUBLE)
                       / COUNT(*), 6) AS DECIMAL(18,6)) AS m
            FROM e
            GROUP BY label, pos),
        norms AS (
            SELECT label, SUM(m * m) AS ss FROM per GROUP BY label),
        dots AS (
            SELECT a.label AS label1, b.label AS label2,
                   SUM(a.m * b.m) AS dot
            FROM per a JOIN per b
              ON a.pos = b.pos AND a.label < b.label
            GROUP BY a.label, b.label)
        SELECT d.label1, d.label2,
               {_CSIM.replace("dot", "d.dot").replace("ss1", "n1.ss").replace("ss2", "n2.ss")} AS cos_sim,
               {_CL2.replace("dot", "d.dot").replace("ss1", "n1.ss").replace("ss2", "n2.ss")} AS l2_dist
        FROM dots d
        JOIN norms n1 ON n1.label = d.label1
        JOIN norms n2 ON n2.label = d.label2
    """,
    "q67_window_gauntlet": """
        SELECT o_orderkey, o_orderpriority,
               CAST(o_totalprice AS DOUBLE) AS price,
               CAST(RANK() OVER w AS INT) AS rnk,
               CAST(DENSE_RANK() OVER w AS INT) AS drnk,
               PERCENT_RANK() OVER w AS prnk,
               CUME_DIST() OVER w AS cdist,
               LAG(CAST(o_totalprice AS DOUBLE), 1) OVER w AS prev_price,
               LEAD(CAST(o_totalprice AS DOUBLE), 1) OVER w AS next_price,
               FIRST_VALUE(CAST(o_totalprice AS DOUBLE)) OVER w
                   AS cheapest,
               LAST_VALUE(CAST(o_totalprice AS DOUBLE)) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS priciest
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey)
    """,
    "q68_bigram_stats": f"""
        WITH counts AS (
            SELECT string_split(bg, ' ')[1] AS w1,
                   string_split(bg, ' ')[2] AS w2,
                   COUNT(*) AS c
            FROM (SELECT unnest(list_transform(
                             range(1, len({_TOK})),
                             i -> array_to_string(({_TOK})[i:i+1], ' ')))
                         AS bg
                  FROM documents)
            GROUP BY bg),
        ranked AS (
            SELECT w1, w2, c,
                   CAST(SUM(c) OVER (PARTITION BY w1) AS BIGINT)
                       AS head_total,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY w1 ORDER BY c DESC, w2) AS INT) AS rn
            FROM counts)
        SELECT w1, w2, c, head_total, rn,
               CAST(c AS DOUBLE) / head_total AS cond_prob
        FROM ranked
        WHERE head_total >= 5 AND rn <= 2
    """,
    "q69_salted_join": """
        SELECT o.o_orderpriority,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    "q54_moving_window": """
        WITH days AS (
            SELECT o_orderkey, o_custkey,
                   datediff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS day,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price
            FROM orders)
        SELECT o_orderkey, o_custkey, day,
               COUNT(*) OVER w AS n_7d,
               CAST(SUM(price) OVER w AS DOUBLE) AS rev_7d
        FROM days
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
}

# Error-bound differential for the GK-sketch query (VERDICT r04 missing
# #3): percentile_approx(accuracy=10000) guarantees a value whose RANK is
# within eps = 1/10000 of the target percentile. The bound brackets each
# approx value between DuckDB's exact discrete quantiles at p ± 0.002
# (20x eps — slack for the two engines' rank-rounding conventions, still
# a sub-percent rank window). Consumed by tools/full_differential.py.
BOUNDS: dict[str, dict] = {
    "q62_approx_quantiles": {
        "sql": """
            SELECT o_orderpriority,
                   quantile_disc(CAST(o_totalprice AS DOUBLE), 0.248)
                       AS lo_p25_approx,
                   quantile_disc(CAST(o_totalprice AS DOUBLE), 0.252)
                       AS hi_p25_approx,
                   quantile_disc(CAST(o_totalprice AS DOUBLE), 0.498)
                       AS lo_p50_approx,
                   quantile_disc(CAST(o_totalprice AS DOUBLE), 0.502)
                       AS hi_p50_approx,
                   quantile_disc(CAST(o_totalprice AS DOUBLE), 0.748)
                       AS lo_p75_approx,
                   quantile_disc(CAST(o_totalprice AS DOUBLE), 0.752)
                       AS hi_p75_approx
            FROM orders GROUP BY o_orderpriority
        """,
        "key": ["o_orderpriority"],
        "checks": [
            ("p25_approx", "lo_p25_approx", "hi_p25_approx"),
            ("p50_approx", "lo_p50_approx", "hi_p50_approx"),
            ("p75_approx", "lo_p75_approx", "hi_p75_approx"),
        ],
    },
}
