"""Physical-layout and sketch operators (round 4c): Z-order data
clustering, count-min frequency sketching, Bloom-filter join pruning.

Engine extensions beyond the reference (SURVEY.md §2.I). These are the
techniques a 100 TB warehouse uses to make the OTHER queries cheap:

- q106 computes the Z-order (Morton) clustering key used to lay files
  out so min/max footer stats prune on TWO dimensions at once — the
  layout step behind every "z-order by (a, b)" table optimizer. The
  interleave is pure per-row integer arithmetic (zero shuffle); only
  the per-bucket bounding-box audit aggregates, on the bucket key.
- q107 builds a count-min sketch over the event stream with
  plan-literal hash seeds. The d x w counter grid (3 x 128 here) is the
  fixed-size state that answers frequency point-queries over an
  unbounded stream; the build is ONE partial-agg shuffle over a x3
  row fan-out that map-side combine collapses to <= d*w rows per task.
- q108 expresses Spark's runtime Bloom-filter join pruning
  relationally: hash the small (filtered-dim) build side into a
  k-seed bucket set, broadcast it, and keep only probe keys whose k
  buckets ALL hit — a superset of the true semi-join (no false
  negatives) computed without shuffling the big side.

All three use deterministic integer arithmetic only (multiplicative
hashes with literal seeds, exact integer quantization), so each has a
full DuckDB oracle — the sketches here are NOT the opaque-register
kind (contrast q43's HLL, rows-only by contract).

Scale notes (100 TB story):
- q106's z-value is a projection; the min/max scalar pair is one
  1-row aggregate broadcast into it (same pattern as star.py's audit
  scalar). Range-bucketing by leading z-bits is also a projection, so
  the whole layout key assignment never shuffles the fact table; a
  real writer would follow with a repartitionByRange(z) write.
- q107's counter grid is d*w rows regardless of input size; the probe
  join broadcasts it. The exact side (for the audit) aggregates on
  user_id — the sketch exists precisely so that at 100 TB you DON'T
  need that exact pass; here it is the differential's truth.
- q108's bucket set is <= k * |filtered dim| rows (tiny), broadcast;
  the big-side candidates never shuffle to evaluate the filter. In a
  real plan the bloom_pass predicate sits on the fact scan BEFORE the
  join shuffle, which is exactly Spark's own
  spark.sql.optimizer.runtime.bloomFilter rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..schemas import load_table
from ._buckets import bucket_of, bucket_offsets, quantile_bounds


# layout scratch dirs created by THIS process, removed at interpreter
# exit (ADVICE r09: applicationId-keyed dirs are unique per session, so
# without cleanup every CI/bench session leaves a fresh bucketed copy
# of orders/lineitem under /tmp forever). Own-dirs-only by design —
# pruning SIBLING dirs would reintroduce the r08 concurrency race this
# keying exists to prevent (a live concurrent session's dir looks
# identical to a stale one). A crashed session can still leak its dirs;
# that leak is bounded by crash count, not by session count.
_SESSION_LAYOUT_DIRS: set[str] = set()


def _cleanup_session_layout_dirs() -> None:
    import shutil

    for d in _SESSION_LAYOUT_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def session_layout_base(spark: SparkSession, family: str, sf_dir: str) -> str:
    """Per-session scratch root for the layout-op queries (q242/q257/
    q265/q278 convention). Keyed by the Spark applicationId AND the
    dataset tag (ADVICE r08): a path keyed only by md5(sf_dir) is
    world-shared and predictable, so two concurrent sessions on the
    same sf_dir race each other's mode('overwrite') writes and the
    fixed /tmp name is squattable on multi-user hosts. Within one
    session the path is stable, keeping reruns idempotent (overwrite
    replaces the previous run's layout); at process exit the dir is
    removed (ADVICE r09 — see _cleanup_session_layout_dirs)."""
    import atexit
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    app = spark.sparkContext.applicationId.replace("-", "")[-16:]
    path = os.path.join(tempfile.gettempdir(), f"{family}_{app}_{tag}")
    if not _SESSION_LAYOUT_DIRS:
        atexit.register(_cleanup_session_layout_dirs)
    _SESSION_LAYOUT_DIRS.add(path)
    return path


# --- q106: Z-order (Morton) clustering --------------------------------

_ZBITS = 16  # quantization width per dimension -> 32-bit z-values
_ZBUCKET_SHIFT = 2 * _ZBITS - 6  # keep top 6 z-bits -> 64 range buckets


def _z_interleave_sql(xq: str, yq: str, shr) -> str:
    """Bit-interleave SQL for two {0..2^16-1} ints: x takes odd bits,
    y even. ``shr(expr, i)`` formats a right-shift for the target
    engine (Spark ``shiftright``, DuckDB ``>>``); the set-bit value is
    a plain integer literal so the text stays engine-portable."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"(({shr(xq, i)}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"(({shr(yq, i)}) & 1) * {1 << (2 * i)}")
    return " + ".join(terms)


def _spark_shr(e: str, i: int) -> str:
    return f"shiftright({e}, {i})"


def _duck_shr(e: str, i: int) -> str:
    return f"({e} >> {i})"


def q106_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit over lineitem on (l_partkey, l_suppkey):
    range-normalize each dimension to 16 bits with exact integer
    arithmetic, interleave into a 32-bit Morton code, assign 64 range
    buckets from the leading z-bits, and report each bucket's row
    count and per-dimension bounding box — the tightness of those
    boxes IS the data-skipping win (a file written per bucket prunes
    on both partkey AND suppkey predicates). Everything before the
    64-key audit aggregate is a shuffle-free projection."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    rng = li.agg(
        F.min("l_partkey").alias("minx"),
        F.max("l_partkey").alias("maxx"),
        F.min("l_suppkey").alias("miny"),
        F.max("l_suppkey").alias("maxy"),
    )
    q = li.crossJoin(F.broadcast(rng)).select(
        F.expr(
            "CAST((l_partkey - minx) * 65535 DIV greatest(maxx - minx, 1)"
            " AS BIGINT)"
        ).alias("xq"),
        F.expr(
            "CAST((l_suppkey - miny) * 65535 DIV greatest(maxy - miny, 1)"
            " AS BIGINT)"
        ).alias("yq"),
    )
    z = q.withColumn(
        "zval", F.expr(_z_interleave_sql("xq", "yq", _spark_shr))
    ).withColumn("bucket", F.expr(f"shiftright(zval, {_ZBUCKET_SHIFT})"))
    return z.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("xq").alias("min_xq"),
        F.max("xq").alias("max_xq"),
        F.min("yq").alias("min_yq"),
        F.max("yq").alias("max_yq"),
    )


# --- q107: count-min sketch -------------------------------------------

_CMS_SEEDS = ((0, 263, 71), (1, 997, 313), (2, 1543, 577))
_CMS_P = 1_000_003  # prime modulus for the multiplicative hash family
_CMS_W = 128  # counters per hash row (d*w = 384 cells, broadcast-tiny)


def _cms_seed_array():
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("si"),
                F.lit(a).cast("bigint").alias("a"),
                F.lit(b).cast("bigint").alias("b"),
            )
            for i, a, b in _CMS_SEEDS
        ]
    )


def q107_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over events.user_id with d=3 plan-literal hash
    seeds and w=128 counters per row: build the d x w counter grid in
    one partial-agg shuffle, then answer frequency point-queries for
    the 20 heaviest users as min over the d counters, audited against
    exact counts. The sketch guarantee (est >= exact, bounded
    overestimate) is visible in the output's overest column. Fully
    deterministic -> exact SQL oracle, unlike register-based q43."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    fanout = ev.select(
        F.explode(_cms_seed_array()).alias("s"), "user_id"
    ).select(
        F.col("s.si").alias("si"),
        (
            ((F.col("s.a") * F.col("user_id") + F.col("s.b")) % _CMS_P)
            % _CMS_W
        ).alias("bucket"),
    )
    counters = fanout.groupBy("si", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    probe = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    )
    probed = probe.select(
        "user_id", "exact_n", F.explode(_cms_seed_array()).alias("s")
    ).select(
        "user_id",
        "exact_n",
        F.col("s.si").alias("si"),
        (
            ((F.col("s.a") * F.col("user_id") + F.col("s.b")) % _CMS_P)
            % _CMS_W
        ).alias("bucket"),
    )
    est = (
        probed.join(F.broadcast(counters), ["si", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overest"),
    )


# --- q108: Bloom-filter join pruning ----------------------------------

_BLOOM_SEEDS = ((0, 433, 97), (1, 877, 241), (2, 1987, 659))
# Floor bit-count: 256 positions — every test-scale build side (≤64
# members) runs the historical sketch bit-identically.
_BLOOM_FLOOR_LOG2_M = 8
_BLOOM_K = len(_BLOOM_SEEDS)


def scaled_bloom_m(n_members: int) -> int:
    """Corpus-derived Bloom width (round 12 — the q27/q28/IVF
    occupancy discipline applied to the last pinned sketch width):

        m = 1 << max(8, ⌈log2 n⌉ + 2),  i.e. m ∈ [4n, 8n)

    A pinned m=256 saturates as the build side grows — at 2·10⁹ build
    keys every bit is set, false-positive rate → 1, and the "prune"
    passes everything (per-probe work degrades to the unfiltered
    join). With k=3 seeds and m ≥ 4n the fill factor k·n/m stays in
    (3/8, 3/4], so the bit-set probability is ≤ 1−e^(−3/4) ≈ 0.53 and
    the FPR stays in the ~5–15% band at ANY build size — false
    positives remain VISIBLE (the query's pedagogical contract) while
    the filter keeps pruning. Unlike the CMS width (q107), which pins
    a fixed ADDITIVE-error share ε = e/w of the total stream and is
    therefore scale-correct when pinned, a Bloom filter's guarantee
    is occupancy-relative — its width must track n. Integer-exact SQL
    twin (the ceil_log2 idiom): ``1 << GREATEST(8,
    LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) + 2)``."""
    from ..operators.similarity import ceil_log2

    return 1 << max(_BLOOM_FLOOR_LOG2_M, ceil_log2(n_members) + 2)


def _bloom_seed_array():
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("si"),
                F.lit(a).cast("bigint").alias("a"),
                F.lit(b).cast("bigint").alias("b"),
            )
            for i, a, b in _BLOOM_SEEDS
        ]
    )


def q108_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning, relationally: hash the build side
    (suppliers of nations 0-2, the filtered dim) into a k=3-seed
    bucket set, broadcast it, and keep each probe-side l_suppkey only
    if ALL k of its buckets hit. Output is every key that passes the
    bloom with its true membership — a superset of the semi-join with
    zero false negatives; is_member=false rows are the sketch's false
    positives. m is corpus-derived (scaled_bloom_m — 256 at every
    test-scale build side, m ∈ [4n, 8n) beyond, keeping the FPR in
    the visible ~5–15% band at any scale instead of saturating to 1);
    the oracle derives the same m from COUNT(*). This is Spark's
    runtime bloom-join rewrite expressed as a plan the optimizer
    can't decline."""
    from ..operators.similarity import corpus_row_count

    sup = load_table(spark, sf_dir, "supplier")
    members = sup.filter(F.col("s_nationkey") <= 2).select("s_suppkey")
    bloom_m = scaled_bloom_m(corpus_row_count(members))
    bset = (
        members.select(F.explode(_bloom_seed_array()).alias("s"), "s_suppkey")
        .select(
            F.col("s.si").alias("si"),
            (
                ((F.col("s.a") * F.col("s_suppkey") + F.col("s.b")) % _CMS_P)
                % bloom_m
            ).alias("bucket"),
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = (
        load_table(spark, sf_dir, "lineitem").select("l_suppkey").distinct()
    )
    pairs = cand.select(
        "l_suppkey", F.explode(_bloom_seed_array()).alias("s")
    ).select(
        "l_suppkey",
        F.col("s.si").alias("si"),
        (
            ((F.col("s.a") * F.col("l_suppkey") + F.col("s.b")) % _CMS_P)
            % bloom_m
        ).alias("bucket"),
    )
    hits = (
        pairs.join(F.broadcast(bset), ["si", "bucket"], "left")
        .groupBy("l_suppkey")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
        .filter(F.col("n_hits") == _BLOOM_K)
    )
    membership = members.select(
        F.col("s_suppkey").alias("l_suppkey"), F.lit(True).alias("is_member")
    )
    return (
        hits.join(F.broadcast(membership), "l_suppkey", "left")
        .select(
            "l_suppkey",
            F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
        )
    )


# --- q120: deterministic HyperLogLog ----------------------------------

# m = 64 registers (p = 6) over a 31-bit hash domain: rest < 2^25, so
# rank = 26 - bitlength(rest) in [1, 25], 26 when rest = 0. A bare
# linear-congruential hash has NO avalanche on consecutive ids (first
# attempt estimated 5182 for 150 true distinct — every low id maps to
# a tiny remainder and a giant rank), so the hash is a two-round
# multiply + xor-shift mixer, still pure integer plan literals. All
# intermediates stay under 2^62, inside BIGINT for both engines
# (DuckDB errors on overflow rather than wrapping). Like q107-vs-q43
# for count-min: engine-native HLL (q43) uses opaque registers and can
# only be error-bound-checked; THIS sketch states its hash as plan
# literals, so registers, the harmonic estimate, and the
# linear-counting fallback are all exactly reproducible in SQL — a
# fully hash-matched HLL.
_HLL_M = 64
_HLL_MOD = 2_147_483_648  # 2^31
_HLL_A1 = 1_103_515_245
_HLL_B1 = 12_345
_HLL_A2 = 1_299_709
_HLL_MAXRANK = 26  # 25-bit rest field + 1


def _hll_mix_sql(x: str, xor_fmt, shr) -> str:
    """The mixer as engine-portable SQL text: ``xor_fmt(a, b)`` and
    ``shr(e, i)`` format bitwise xor / right-shift for the target
    engine (Spark ``a ^ b`` / ``shiftright``, DuckDB ``xor(a, b)`` /
    ``>>`` — same split as q106's _spark_shr/_duck_shr)."""
    h0 = f"(({x} % {_HLL_MOD}) * {_HLL_A1} + {_HLL_B1}) % {_HLL_MOD}"
    h1 = xor_fmt(f"({h0})", f"({shr(f'({h0})', 15)})")
    h2 = f"(({h1}) * {_HLL_A2}) % {_HLL_MOD}"
    return xor_fmt(f"({h2})", f"({shr(f'({h2})', 13)})")


def _spark_xor(a: str, b: str) -> str:
    return f"({a} ^ {b})"


def _duck_xor(a: str, b: str) -> str:
    return f"xor({a}, {b})"


# the Flajolet alpha for m = 64, and the textbook small-range rule:
# linear counting when E <= 2.5 m and zero registers remain. Every
# float operand double-cast for the same reason as q122's BM25 string:
# both engines must run the identical IEEE chain. 4096 = m^2;
# 67108864 = 2^26 rescales the exact integer register sum
# s_int = sum 2^(26 - reg) back to sum 2^(-reg).
_HLL_EST = (
    "CASE WHEN CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)"
    " * CAST(67108864.0 AS DOUBLE) / CAST(s_int AS DOUBLE)"
    " <= CAST(160.0 AS DOUBLE) AND v > 0"
    " THEN ROUND(CAST(64.0 AS DOUBLE)"
    " * ln(CAST(64.0 AS DOUBLE) / CAST(v AS DOUBLE)), 3)"
    " ELSE ROUND(CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)"
    " * CAST(67108864.0 AS DOUBLE) / CAST(s_int AS DOUBLE), 3) END"
)


def q120_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-user counts per event type —
    q43's task with a plan-literal hash, so unlike engine-native HLL
    the whole sketch is SQL-reproducible and hash-matched: bucket =
    h % 64, rank = leading-zero rank of the 25-bit remainder (via the
    binary-string length, exact integer semantics — no float log2),
    register = max rank per bucket, harmonic estimate with the
    small-range linear-counting fallback, audited against the exact
    distinct count.

    Scale shape: registers come from ONE partial-agg shuffle on
    (event_type, bucket) — 64 rows per group regardless of input; the
    integer register sum Σ 2^(15-reg) makes the harmonic mean exact
    and order-independent, so the only float ops are the two final
    literal chains both engines run identically. (The exact count is
    the audit column, not part of the sketch path.)"""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    mix = _hll_mix_sql("user_id", _spark_xor, _spark_shr)
    hashed = ev.select(
        "event_type",
        F.expr(f"({mix}) % {_HLL_M}").alias("bucket"),
        F.expr(f"({mix}) div {_HLL_M}").alias("rest"),
    )
    ranks = hashed.groupBy("event_type", "bucket").agg(
        F.max(
            F.when(F.col("rest") == 0, F.lit(_HLL_MAXRANK)).otherwise(
                F.lit(_HLL_MAXRANK) - F.length(F.bin("rest"))
            )
        ).alias("reg")
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(F.lit(0), F.lit(_HLL_M - 1))
            ).alias("bucket"),
        )
    )
    regs = spine.join(ranks, ["event_type", "bucket"], "left").select(
        "event_type", F.coalesce("reg", F.lit(0)).alias("reg")
    )
    per_type = regs.groupBy("event_type").agg(
        F.sum(
            F.expr(f"CAST(shiftleft(1, {_HLL_MAXRANK} - reg) AS BIGINT)")
        ).alias("s_int"),
        F.sum((F.col("reg") == 0).cast("bigint")).alias("v"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        per_type.join(exact, "event_type")
        .select(
            "event_type",
            F.col("v").alias("n_zero_registers"),
            F.expr(_HLL_EST).alias("est_users"),
            "exact_users",
        )
        .select(
            "event_type",
            "n_zero_registers",
            "est_users",
            "exact_users",
            F.round(
                (F.col("est_users") - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ).alias("rel_err"),
        )
    )


def q148_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY — the property that makes sketches work at
    100 TB: registers built independently per partition (here the
    event log split in two by event_id parity, standing in for two
    data centers or two daily loads) and combined by register-wise
    MAX must equal the registers of a direct pass over the union,
    BIT-FOR-BIT. Output per event type: the per-register mismatch
    count between merge and direct (always 0 — the audit IS the
    theorem), the estimate from the MERGED registers, and the exact
    distinct count with relative error. Same plan-literal q120 hash,
    so the whole merge algebra is SQL-reproducible and hash-matched.

    Scale shape: per-partition registers are one partial-agg shuffle
    on (type, part, bucket) — 2 × 64 rows per group; the merge is an
    aggregate OF that tiny frame. Nothing about the plan changes if
    'part' becomes 10 000 daily loads: the merge stays
    registers-sized, which is the entire point."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", (F.col("event_id") % 2).alias("part")
    )
    mix = _hll_mix_sql("user_id", _spark_xor, _spark_shr)
    hashed = ev.select(
        "event_type",
        "part",
        F.expr(f"({mix}) % {_HLL_M}").alias("bucket"),
        F.expr(f"({mix}) div {_HLL_M}").alias("rest"),
    )
    rank = F.when(F.col("rest") == 0, F.lit(_HLL_MAXRANK)).otherwise(
        F.lit(_HLL_MAXRANK) - F.length(F.bin("rest"))
    )
    from ..caching import persist_tracked

    per_part = persist_tracked(
        hashed.groupBy("event_type", "part", "bucket").agg(
            F.max(rank).alias("reg")
        )
    )
    merged = per_part.groupBy("event_type", "bucket").agg(
        F.max("reg").alias("reg_m")
    )
    direct = hashed.groupBy("event_type", "bucket").agg(
        F.max(rank).alias("reg_d")
    )
    audit = (
        merged.join(direct, ["event_type", "bucket"], "full")
        .groupBy("event_type")
        .agg(
            F.sum(
                (
                    F.coalesce("reg_m", F.lit(-1))
                    != F.coalesce("reg_d", F.lit(-2))
                ).cast("long")
            ).alias("n_register_mismatches")
        )
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias(
                "bucket"
            ),
        )
    )
    regs = spine.join(merged, ["event_type", "bucket"], "left").select(
        "event_type", F.coalesce("reg_m", F.lit(0)).alias("reg")
    )
    per_type = regs.groupBy("event_type").agg(
        F.sum(
            F.expr(f"CAST(shiftleft(1, {_HLL_MAXRANK} - reg) AS BIGINT)")
        ).alias("s_int"),
        F.sum((F.col("reg") == 0).cast("bigint")).alias("v"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        per_type.join(audit, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_register_mismatches",
            F.expr(_HLL_EST).alias("est_users"),
            "exact_users",
            F.round(
                (F.expr(_HLL_EST) - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ).alias("rel_err"),
        )
    )


# q172 ring nodes: md5('node-i') positions as PLAN LITERALS on both
# sides (the sign-LSH hyperplane convention) — 32 original nodes, 16
# added. Sorted ascending so "first position > key hash" is
# element 1 of an order-preserving filter.
import hashlib as _hashlib

_RING_OLD = sorted(
    _hashlib.md5(f"node-{i}".encode()).hexdigest() for i in range(32)
)
_RING_NEW = sorted(
    _hashlib.md5(f"node-{i}".encode()).hexdigest() for i in range(48)
)


def _ring_assign_sql(nodes: list[str], dialect: str) -> str:
    """First node position clockwise of the key hash (wrap to the
    smallest position) — standard consistent-hash lookup as a pure
    array expression over literal positions; `h` is the key hash
    column. The array syntax differs per engine but the operands are
    exact hex STRINGS, so the per-dialect forms are value-identical
    (no float math anywhere)."""
    if dialect == "spark":
        arr = "array(" + ", ".join(f"'{p}'" for p in nodes) + ")"
        return (
            f"COALESCE(try_element_at(filter({arr}, x -> x > h), 1),"
            f" '{nodes[0]}')"
        )
    arr = "[" + ", ".join(f"'{p}'" for p in nodes) + "]"
    return (
        f"COALESCE(list_filter({arr}, x -> x > h)[1], '{nodes[0]}')"
    )


# q163: the three audited columns, read under the table's natural
# (l_orderkey, l_linenumber) order. suppkey is cast to string on BOTH
# sides so one generic run counter handles every column type (equality
# of the cast is equality of the value).
_RLE_COLS = ("rf", "ls", "sk")


def q172_reshard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding movement audit: how many keys move when a 32-shard
    layout grows to 48, under (a) modulo sharding on the key and
    (b) a consistent-hash ring (md5 key positions against literal
    node positions) — the capacity-planning number behind every
    rebalance: mod moves ~2/3 of all keys (k%32 == k%48 only when
    k%96 < 32), the ring moves only the ~1/3 that land on the 16 new
    nodes. THE reason shuffle-less scale-out layouts use rings.

    Scale shape: pure scan-side projections (the ring lookup is an
    array expression over 48 plan-literal positions — no join, no
    shuffle) into one global agg; the 2-row answer is a stack()."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        F.col("o_orderkey").alias("k"),
        F.md5(F.col("o_orderkey").cast("string")).alias("h"),
    )
    assigned = keyed.select(
        "k",
        F.expr(_ring_assign_sql(_RING_OLD, "spark")).alias("r32"),
        F.expr(_ring_assign_sql(_RING_NEW, "spark")).alias("r48"),
    )
    agg = assigned.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(
            (F.col("r32") != F.col("r48")).cast("long")
        ).alias("m_ring"),
        F.sum(
            ((F.col("k") % 32) != (F.col("k") % 48)).cast("long")
        ).alias("m_mod"),
    )
    return agg.select(
        F.expr(
            "stack(2, 'mod', m_mod, 'ring', m_ring)"
            " AS (strategy, n_moved)"
        ),
        "n_keys",
    ).select(
        "strategy",
        "n_keys",
        "n_moved",
        F.round(
            F.col("n_moved").cast("double") / F.col("n_keys"), 6
        ).alias("moved_share"),
    )


# q185 packs 62 keys per block — bit 62/63 of a signed BIGINT are
# avoided so shifts never touch the sign bit on either engine.
_BM_BITS = 62
_BM_MASK = (
    f"bit_or(shiftleft(CAST(1 AS BIGINT),"
    f" CAST(k % {_BM_BITS} AS INT)))"
)


def q185_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index set algebra: pack each return flag's orderkey set
    into 62-bit block masks (the roaring/bitmap-index layout), then
    answer |A|, |A∩B|, |A∪B| and Jaccard for every flag pair with
    bitwise AND + popcount on co-present blocks — set intersection as
    bit arithmetic, no row-level join on keys ever happens. THE
    layout that makes multi-predicate filtering cheap in warehouse
    engines: a flag-pair overlap query touches blocks/62 words
    instead of N rows.

    Exactness: bit_or is idempotent, so duplicate (flag, orderkey)
    rows need no pre-dedup; every count is an exact integer popcount;
    union comes from inclusion-exclusion so absent blocks never need
    a full-outer join.

    Scale shape: ONE (flag, block)-keyed partial agg builds the index
    (masks combine map-side like any bit_or); totals are a flag-keyed
    popcount sum; the pair join runs on the block-mask frame —
    keys/62 rows, not keys."""
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    cells = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_orderkey").alias("k"),
    ).select(
        "flag",
        F.expr(f"k DIV {_BM_BITS}").alias("blk"),
        "k",
    )
    masks = persist_tracked(
        cells.groupBy("flag", "blk").agg(F.expr(_BM_MASK).alias("mask"))
    )
    totals = masks.groupBy("flag").agg(
        F.sum(F.expr("bit_count(mask)")).alias("n")
    )
    inter = (
        masks.select(
            F.col("flag").alias("flag_a"), "blk", F.col("mask").alias("ma")
        )
        .join(
            masks.select(
                F.col("flag").alias("flag_b"),
                "blk",
                F.col("mask").alias("mb"),
            ),
            "blk",
        )
        .filter(F.col("flag_a") < F.col("flag_b"))
        .groupBy("flag_a", "flag_b")
        .agg(
            F.sum(F.expr("bit_count(ma & mb)")).alias("n_intersect")
        )
    )
    return (
        inter.join(
            totals.select(
                F.col("flag").alias("flag_a"), F.col("n").alias("n_a")
            ),
            "flag_a",
        )
        .join(
            totals.select(
                F.col("flag").alias("flag_b"), F.col("n").alias("n_b")
            ),
            "flag_b",
        )
        .select(
            "flag_a",
            "flag_b",
            "n_a",
            "n_b",
            "n_intersect",
            (F.col("n_a") + F.col("n_b") - F.col("n_intersect")).alias(
                "n_union"
            ),
            F.round(
                F.col("n_intersect").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_intersect")),
                6,
            ).alias("jaccard"),
        )
    )


def q163_rle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encodability audit: for each candidate column, count
    the value runs lineitem exhibits under its natural sort order and
    report the average run length — the layout probe that predicts
    parquet RLE/dictionary-page compression and tells the table
    optimizer which sort key is worth a rewrite (q106's Z-order is the
    rewrite; this measures whether it's needed: returnflag/linestatus
    run long under orderkey clustering, suppkey doesn't).

    Order contract: (l_orderkey, l_linenumber) is NOT unique in this
    generator, so "natural order" alone would leave run counts
    tie-order-nondeterministic ACROSS ENGINES. Each column's scan
    therefore breaks key ties by the audited value itself — the
    best-case RLE for the clustering (a writer is free to co-locate
    equal values within one key), and a total, engine-independent
    order for the run semantics.

    Scale shape: the classic global ordered scan — normally a
    single-task ORDER BY window — runs as the q150 two-phase rewrite
    applied to run counting: sampled orderkey boundaries bucket the
    table, every bucket counts its local runs independently (the
    three per-column windows share ONE hash exchange on the bucket
    key), and the per-bucket (first, last) value pairs — a ≤32-row
    frame — stitch the boundaries (a run spanning two buckets was
    counted twice, so adjacent equal edges subtract one). The result
    is EXACTLY the global run count at any parallelism; the bucket
    boundaries never appear in the output, so the oracle states the
    simple global window."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
        F.col("l_orderkey").cast("double").alias("_kd"),
        F.col("l_returnflag").alias("v_rf"),
        F.col("l_linestatus").alias("v_ls"),
        F.col("l_suppkey").cast("string").alias("v_sk"),
    )
    bucketed = base.withColumn(
        "_bkt", bucket_of("_kd", quantile_bounds(base, "_kd"))
    )
    # one window PER COLUMN: ties in (k1, k2) order by the audited
    # value (see order contract above); all three share the _bkt hash
    # partitioning, so Catalyst plans one exchange + per-column sorts
    wins = {
        c: Window.partitionBy("_bkt").orderBy("k1", "k2", f"v_{c}")
        for c in _RLE_COLS
    }
    marked = bucketed.select(
        "_bkt",
        "k1",
        "k2",
        *[F.col(f"v_{c}") for c in _RLE_COLS],
        *[
            F.when(
                F.lag(f"v_{c}").over(wins[c]).isNull()
                | (F.lag(f"v_{c}").over(wins[c]) != F.col(f"v_{c}")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias(f"rs_{c}")
            for c in _RLE_COLS
        ],
    )
    loc = marked.groupBy("_bkt").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"rs_{c}").alias(f"runs_{c}") for c in _RLE_COLS],
        *[
            F.min_by(f"v_{c}", F.struct("k1", "k2", f"v_{c}")).alias(
                f"first_{c}"
            )
            for c in _RLE_COLS
        ],
        *[
            F.max_by(f"v_{c}", F.struct("k1", "k2", f"v_{c}")).alias(
                f"last_{c}"
            )
            for c in _RLE_COLS
        ],
    )
    # boundary stitch over the <=32-row bucket frame (driver-scale)
    wb = Window.orderBy("_bkt")
    stitched = loc.select(
        "n",
        *[
            (
                F.col(f"runs_{c}")
                - F.when(
                    F.lag(f"last_{c}").over(wb) == F.col(f"first_{c}"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias(f"runs_{c}")
            for c in _RLE_COLS
        ],
    )
    tot = stitched.agg(
        F.sum("n").alias("n_rows"),
        *[F.sum(f"runs_{c}").alias(f"runs_{c}") for c in _RLE_COLS],
    )
    return tot.select(
        F.expr(
            "stack(3,"
            " 'l_returnflag', runs_rf,"
            " 'l_linestatus', runs_ls,"
            " 'l_suppkey', runs_sk) AS (column_name, n_runs)"
        ),
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        "n_runs",
        F.round(
            F.col("n_rows").cast("double") / F.col("n_runs"), 6
        ).alias("avg_run_len"),
    )


def q192_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer stats) pruning audit: how many of a
    table's files does a date-range scan actually have to read, under
    two write layouts — ARRIVAL order (files cut by insertion key
    ranges: every file spans most of the date domain, nothing prunes)
    vs DATE-CLUSTERED (files cut by date ranges — what a
    repartitionByRange(date) writer produces: each probe touches ~1/8
    of the files). This quantifies the q106 claim ("bounding-box
    tightness IS the data-skipping win") as the scan-cost number a
    layout decision is actually made on. Output: one row per (layout,
    probe window) with file/row scan counts and the prune fraction.

    Scale shape: both file assignments are scan-side integer
    projections against ONE broadcast min/max scalar row (no sort, no
    shuffle of the fact table); the zone-map frame is 2 layouts × 64
    files built by one partial agg on the stacked (layout, file) key;
    the probe audit is a broadcast cross join on that 128-row frame ×
    8 literal-derived windows. Everything is exact integer day/key
    arithmetic; the only division is the final fraction (ROUND 6)."""
    # day index as an integer datediff from a literal epoch — exact,
    # timezone-free, identical in both engines (o_orderdate is NTZ)
    day = "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(
        F.min(F.expr(day)).alias("mind"),
        F.max(F.expr(day)).alias("maxd"),
        F.max("o_orderkey").alias("maxk"),
    )
    base = o.crossJoin(F.broadcast(rng)).selectExpr(
        f"{day} AS d",
        "CAST(o_orderkey * 64 DIV (maxk + 1) AS INT) AS fa",
        f"CAST(({day} - mind) * 64 DIV (maxd - mind + 1) AS INT) AS fc",
    )
    zm = (
        base.selectExpr(
            "d",
            "stack(2, 'arrival', fa, 'clustered', fc)"
            " AS (layout, file_id)",
        )
        .groupBy("layout", "file_id")
        .agg(
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    probes = (
        spark.range(8)
        .select(F.col("id").cast("int").alias("probe"))
        .crossJoin(F.broadcast(rng))
        .selectExpr(
            "probe",
            "mind + probe * (maxd - mind + 1) DIV 8 AS lo",
            "mind + (probe + 1) * (maxd - mind + 1) DIV 8 AS hi",
        )
    )
    hit = (F.col("max_d") >= F.col("lo")) & (F.col("min_d") < F.col("hi"))
    return (
        zm.crossJoin(F.broadcast(probes))
        .groupBy("layout", "probe")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(hit.cast("long")).alias("files_scanned"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(F.lit(0))).alias(
                "rows_scanned"
            ),
        )
        .select(
            "layout",
            "probe",
            "n_files",
            "files_scanned",
            "rows_scanned",
            F.round(
                F.lit(1.0).cast("double")
                - F.col("files_scanned").cast("double") / F.col("n_files"),
                6,
            ).alias("prune_frac"),
        )
    )


def q242_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-level bucketing + exchange-free co-located join: orders
    and lineitem are written as BUCKETED tables (8 buckets, clustered
    and sorted by orderkey), then joined — the physical plan reads the
    bucket files directly into a SortMergeJoin with NO shuffle on
    either side (pinned in tests/test_round8_queries.py: the only
    Exchange left is the final groupBy's). This is the standing answer
    to the repeated-big-join problem at 100 TB: pay the orderkey
    shuffle ONCE at write time, and every subsequent join/aggregation
    on that key is exchange-free; co-bucketed fact tables co-locate
    without broadcast or AQE help.

    Mechanics: external datasource tables (explicit path under the
    session temp dir, name tagged by sf_dir) registered in the session
    catalog — bucket metadata lives in the catalog, so create + read
    happen in the same invocation; DROP + overwrite keeps reruns
    idempotent. Result values are layout-independent (the oracle is
    the plain join over the raw parquet), so the differential certifies
    that bucketing changed the PLAN, not the answer."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = session_layout_base(spark, "bkt_tables", sf_dir)
    specs = [
        ("orders", "o_orderkey", ["o_orderkey", "o_orderstatus"]),
        (
            "lineitem",
            "l_orderkey",
            ["l_orderkey", "l_extendedprice", "l_discount"],
        ),
    ]
    for tbl, key, cols in specs:
        name = f"bkt_{tbl}_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, tbl)
            .select(*cols)
            .write.format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    o = spark.table(f"bkt_orders_{tag}")
    li = spark.table(f"bkt_lineitem_{tag}")
    rev = (
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.expr(rev)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q257_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a partition-laid-out fact table:
    orders written partitioned by o_orderpriority, then joined to a
    tiny priority-dimension whose filter (critical priorities only) is
    NOT on the fact table — Catalyst inserts a dynamicpruning
    subquery into the fact scan's PartitionFilters, so the scan reads
    2 of 5 partition directories without the query ever naming them.
    This is THE mechanism that makes dim-filtered star joins cheap on
    a 100 TB date/tenant-partitioned fact: the dim filter prunes fact
    I/O at runtime, not just rows after the scan. Plan pin
    (tests/test_round8d_queries.py): `dynamicpruning` appears in the
    fact scan's partition filters and only matching partitions are
    read.

    The q242 convention: layout is session-temp, tagged by sf_dir,
    idempotent overwrite; the oracle computes the same aggregate from
    the RAW table, so the differential certifies the layout changed
    the PLAN, not the answer."""
    import os as _os

    base = session_layout_base(spark, "dpp_tables", sf_dir)
    fact_path = _os.path.join(base, "orders_by_priority")
    dim_path = _os.path.join(base, "priority_dim")
    o = load_table(spark, sf_dir, "orders")
    (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(fact_path)
    )
    (
        o.select(F.col("o_orderpriority").alias("p_name"))
        .distinct()
        .select(
            "p_name",
            F.when(
                F.col("p_name").isin("1-URGENT", "2-HIGH"), F.lit(1)
            )
            .otherwise(F.lit(0))
            .alias("is_critical"),
        )
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("is_critical") == 1)
    return (
        fact.join(
            F.broadcast(dim),
            fact["o_orderpriority"] == dim["p_name"],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q261_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: assign each document (standing in
    for a data file, sized by n_chars) to an output shard of ~20k
    chars within its source partition, by the running-offset rule
    shard = floor(bytes_before / target) — the deterministic next-fit
    packing a table OPTIMIZE job runs before rewriting thousands of
    kilobyte files into megabyte ones. Output: per (source, shard) the
    file count and byte total the rewrite tasks would each handle.

    Scale shape: ONE window shuffle partitioned by source (each
    partition's running offset sorts locally — the same contract as
    every per-entity timeline here), then a partial-agg groupBy on the
    assigned shard. All integer arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = d.select(
        "source",
        "n_chars",
        (
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / 20000
        )
        .cast("bigint")
        .alias("shard"),
    )
    return assigned.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_chars").cast("bigint").alias("shard_chars"),
    )


def q262_twophase_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-cardinality COUNT DISTINCT as a salted two-phase exact
    aggregate: per event type, distinct users counted as
    groupBy(type, user_id % 16) partial distincts SUMMED per type.
    Because the salt is a FUNCTION OF THE KEY, a user lands in exactly
    one salt bucket and the partial counts add exactly — this is the
    rewrite that replaces one hot distinct-aggregation state per type
    (the q05 plan's single reducer per group at 100 TB) with 16
    parallel, individually small states. The oracle is the plain
    COUNT(DISTINCT): the rewrite must be invisible in the answer.

    Scale shape: shuffle 1 on (type, salt) — 16x the parallelism of a
    plain per-type distinct, each state 1/16 the keyspace; shuffle 2
    reduces 16 rows per type."""
    ev = load_table(spark, sf_dir, "events")
    partial = ev.groupBy(
        "event_type", (F.col("user_id") % 16).alias("salt")
    ).agg(F.countDistinct("user_id").alias("pd"))
    return partial.groupBy("event_type").agg(
        F.sum("pd").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_salts_hit"),
    )


def q265_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the same
    table — gen-1 files written BEFORE a `lang` column existed (even
    doc_ids), gen-2 files with it (odd doc_ids) — read back as ONE
    frame via mergeSchema, old files surfacing NULL for the added
    column. This is the lakehouse reality at 100 TB: you never rewrite
    history to add a column; the reader reconciles footers per file.
    The audit reports, per source, how much of the corpus carries the
    new column and confirms no rows were lost across generations.

    The q242/q257 convention: layout under the session temp dir keyed
    by sf_dir, idempotent overwrite; the oracle recomputes from the
    RAW table with the generation rule inlined, so the differential
    certifies the merged read reconstructs exactly the pre-split
    data."""
    import os as _os

    base = session_layout_base(spark, "evo_tables", sf_dir)
    d = load_table(spark, sf_dir, "documents")
    (
        d.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite")
        .parquet(_os.path.join(base, "gen=1"))
    )
    (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite")
        .parquet(_os.path.join(base, "gen=2"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        _os.path.join(base, "gen=1"), _os.path.join(base, "gen=2")
    )
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("lang").alias("n_with_lang"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def q268_equidepth_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact equi-depth histogram boundaries of order price — the
    ANALYZE-stats artifact a cost-based optimizer consumes (selectivity
    of `price < x` ≈ bucket fraction). The k-th of 8 boundaries is the
    value at global rank ceil(k·n/8) under (cents, orderkey) order —
    computed by the q65/q150 two-phase bucketed rank (sampled
    boundaries bucket the rows, in-bucket row_numbers lift through
    broadcast offsets; no unpartitioned window), then ONE broadcast
    join of the 8 target ranks against the ranked frame. q62's GK
    sketch answers the same question approximately in one pass; this
    is its exact twin, and the differential's truth.

    Exactness: prices rank as exact cent BIGINTs (the double image
    used for bucketing is order-preserving far below 2^53); targets
    are pure integer arithmetic ceil = (k·n + 7) DIV 8."""
    from ..caching import persist_tracked

    o = persist_tracked(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).alias("cents"),
        )
        .withColumn("_kd", F.col("cents").cast("double"))
    )
    bnds = quantile_bounds(o, "_kd")
    bk = o.withColumn("_bkt", bucket_of("_kd", bnds))
    bs = bk.groupBy("_bkt").agg(F.count(F.lit(1)).alias("bn"))
    offs = bucket_offsets(bs, {"loff": (F.sum, "bn")})
    wl = Window.partitionBy("_bkt").orderBy("cents", "o_orderkey")
    ranked = bk.join(F.broadcast(offs), "_bkt").select(
        "cents", (F.col("loff") + F.row_number().over(wl)).alias("grank")
    )
    n = bs.agg(F.sum("bn").alias("n"))
    targets = (
        spark.range(1, 9)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(n))
        .select("k", F.expr("(k * n + 7) DIV 8").alias("target"))
    )
    return (
        ranked.join(
            F.broadcast(targets), F.col("grank") == F.col("target")
        )
        .select(
            "k",
            F.col("target").cast("bigint").alias("target_rank"),
            F.col("cents").alias("boundary_cents"),
            (F.col("cents").cast("double") / 100).alias("boundary_price"),
        )
    )


def q283_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints — the anti-entropy check
    two replicas (or a source and its migrated copy) compare WITHOUT
    shipping rows: per table, the row count, a BIT_XOR signature and a
    mod-p additive signature of a per-row md5-derived 60-bit integer.
    XOR catches any odd multiset difference, the mod-sum catches
    XOR-cancelling even swaps; both are commutative + associative, so
    they reduce map-side with NO shuffle of row data at any scale and
    never depend on row order or partitioning.

    Exactness: the canonical row string uses only integers, strings,
    exact cent casts, and ISO date strings (a raw double or timestamp
    would hit cross-engine formatting/timezone traps); the
    15-hex-digit prefix of
    md5 converts exactly in both engines (Spark conv(,16,10), DuckDB
    CAST('0x'… AS BIGINT)); the additive signature sums per-row
    residues mod 1e9+7 in DECIMAL(38,0) so it cannot overflow at any
    row count."""
    specs = {
        "orders": (
            "concat_ws('|', o_orderkey, o_custkey, o_orderstatus,"
            " CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),"
            " CAST(CAST(o_orderdate AS DATE) AS STRING), o_orderpriority)"
        ),
        "customer": (
            "concat_ws('|', c_custkey, c_name, c_nationkey,"
            " CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),"
            " c_mktsegment)"
        ),
        "supplier": (
            "concat_ws('|', s_suppkey, s_name, s_nationkey,"
            " CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))"
        ),
    }
    parts = []
    for tbl, canon in specs.items():
        t = load_table(spark, sf_dir, tbl)
        h = F.expr(
            f"CAST(conv(substring(md5({canon}), 1, 15), 16, 10) AS BIGINT)"
        )
        parts.append(
            t.select(h.alias("h")).agg(
                F.lit(tbl).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("bit_xor(h)").alias("xor_sig"),
                F.expr(
                    "CAST(CAST(SUM(CAST(h % 1000000007 AS DECIMAL(38,0)))"
                    " % 1000000007 AS BIGINT) AS BIGINT)"
                ).alias("modsum_sig"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q284_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join handling — the PRODUCTION path for skewed keys at
    100 TB (VERDICT r08 #6): q69's salted join is the manual rewrite;
    here Spark's runtime ``OptimizeSkewedJoin`` splits the hot
    partition itself and the oracle certifies the result is unchanged.

    The skew fixture is deliberate: ~43% of lineitem rows land on one
    derived key (l_linenumber <= 3 → key 0, everything else spread
    over 97 keys), joined to a 98-row per-key dimension made
    non-broadcastable (autoBroadcastJoinThreshold = -1 on a CLONED
    session — the caller's conf is never touched, the q42 pattern) so
    the plan is a sort-merge join whose key-0 partition is ~6× the
    median. With skew thresholds scaled to the test corpus the final
    adaptive plan shows ``SortMergeJoin(skew=true)`` over an
    ``AQEShuffleRead skewed`` (pinned in tests/test_round9_queries.py)
    and the hot partition executes as multiple map-range splits with
    the dim side replicated per split.

    Scale insight this query encodes: AQE splits a skewed REDUCE
    partition by MAP-index ranges, so a single-mapper shuffle (one
    thin parquet file scanned as one task) is indivisible and skew
    handling silently no-ops — the scan side must arrive as multiple
    map tasks (`repartition(8)` here; thousands of input splits in a
    real 100 TB scan, where this is automatic). The trailing
    per-dim-attribute aggregate groups on a NON-join key, so the skew
    split introduces no extra exchange and fires without
    ``forceOptimizeSkewedJoin``.

    Exactness: integer-cent revenue (BIGINT sums both engines).
    Oracle: the PLAIN join+aggregate — hash-matching it proves the
    runtime split is semantics-preserving, the same algebra-pinning
    q69 does for the manual salt."""
    from ..session import cloned_session

    s2 = cloned_session(spark)
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scaled to the sf0.01-0.1 corpus: the hot partition (~0.4-4 MB)
        # must clear both gates (> factor × median AND > threshold)
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }.items():
        s2.conf.set(k, v)
    li = (
        load_table(s2, sf_dir, "lineitem")
        .repartition(8)  # multi-mapper shuffle input — see docstring
        .select(
            F.when(F.col("l_linenumber") <= 3, F.lit(0))
            .otherwise(F.pmod("l_orderkey", F.lit(97)) + 1)
            .cast("bigint")
            .alias("skew_key"),
            "l_extendedprice",
        )
    )
    dim = s2.range(0, 98).select(
        F.col("id").alias("skew_key"), (F.col("id") % 7 + 1).alias("w")
    )
    return (
        li.join(dim, "skew_key")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
            ).alias("sum_cents"),
        )
    )


QUERIES = {
    "q284_aqe_skew_join": q284_aqe_skew_join,
    "q106_zorder_layout": q106_zorder_layout,
    "q283_table_checksum": q283_table_checksum,
    "q268_equidepth_histogram": q268_equidepth_histogram,
    "q265_schema_evolution": q265_schema_evolution,
    "q261_compaction_plan": q261_compaction_plan,
    "q262_twophase_distinct": q262_twophase_distinct,
    "q257_dpp_prune": q257_dpp_prune,
    "q242_bucketed_join": q242_bucketed_join,
    "q192_zonemap_prune": q192_zonemap_prune,
    "q107_countmin_sketch": q107_countmin_sketch,
    "q108_bloom_prune": q108_bloom_prune,
    "q120_hll_sketch": q120_hll_sketch,
    "q148_hll_merge": q148_hll_merge,
    "q163_rle_audit": q163_rle_audit,
    "q172_reshard_audit": q172_reshard_audit,
    "q185_bitmap_index": q185_bitmap_index,
}

_DUCK_SEEDS = ", ".join(f"({i}, {a}, {b})" for i, a, b in _CMS_SEEDS)
_DUCK_BLOOM_SEEDS = ", ".join(f"({i}, {a}, {b})" for i, a, b in _BLOOM_SEEDS)

ORACLE = {
    "q284_aqe_skew_join": """
        WITH li AS (
            SELECT CASE WHEN l_linenumber <= 3 THEN 0
                        ELSE l_orderkey % 97 + 1 END AS skew_key,
                   l_extendedprice
            FROM lineitem),
        dim AS (SELECT gs AS skew_key, gs % 7 + 1 AS w
                FROM generate_series(0, 97) t(gs))
        SELECT w, COUNT(*) AS n_lines,
               CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM li JOIN dim USING (skew_key)
        GROUP BY 1
    """,
    "q283_table_checksum": """
        WITH h_orders AS (
            SELECT CAST('0x' || substr(md5(concat_ws('|', o_orderkey,
                       o_custkey, o_orderstatus,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS BIGINT),
                       CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                       o_orderpriority)), 1, 15)
                    AS BIGINT) AS h
            FROM orders),
        h_customer AS (
            SELECT CAST('0x' || substr(md5(concat_ws('|', c_custkey,
                       c_name, c_nationkey,
                       CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                            AS BIGINT),
                       c_mktsegment)), 1, 15) AS BIGINT) AS h
            FROM customer),
        h_supplier AS (
            SELECT CAST('0x' || substr(md5(concat_ws('|', s_suppkey,
                       s_name, s_nationkey,
                       CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100
                            AS BIGINT))), 1, 15) AS BIGINT) AS h
            FROM supplier)
        SELECT 'orders' AS table_name, COUNT(*) AS n_rows,
               CAST(BIT_XOR(h) AS BIGINT) AS xor_sig,
               CAST(SUM(h % 1000000007) % 1000000007 AS BIGINT)
                   AS modsum_sig
        FROM h_orders
        UNION ALL
        SELECT 'customer', COUNT(*),
               CAST(BIT_XOR(h) AS BIGINT),
               CAST(SUM(h % 1000000007) % 1000000007 AS BIGINT)
        FROM h_customer
        UNION ALL
        SELECT 'supplier', COUNT(*),
               CAST(BIT_XOR(h) AS BIGINT),
               CAST(SUM(h % 1000000007) % 1000000007 AS BIGINT)
        FROM h_supplier
    """,
    "q268_equidepth_histogram": """
        WITH o AS (
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS cents
            FROM orders),
        ranked AS (
            SELECT cents,
                   ROW_NUMBER() OVER (ORDER BY cents, o_orderkey)
                       AS grank
            FROM o),
        n AS (SELECT COUNT(*) AS n FROM o),
        targets AS (
            SELECT k, (k * n + 7) // 8 AS target
            FROM (SELECT unnest(range(1, 9)) AS k), n)
        SELECT k, CAST(target AS BIGINT) AS target_rank,
               cents AS boundary_cents,
               CAST(cents AS DOUBLE) / 100 AS boundary_price
        FROM ranked JOIN targets ON grank = target
    """,
    "q265_schema_evolution": """
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_lang,
               CAST(COUNT(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END)
                    AS BIGINT) AS n_langs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
    """,
    "q261_compaction_plan": """
        WITH a AS (
            SELECT source, n_chars,
                   COALESCE(SUM(n_chars) OVER (PARTITION BY source
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) // 20000 AS shard
            FROM documents)
        SELECT source, CAST(shard AS BIGINT) AS shard,
               COUNT(*) AS n_files,
               CAST(SUM(n_chars) AS BIGINT) AS shard_chars
        FROM a GROUP BY 1, 2
    """,
    "q262_twophase_distinct": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT user_id % 16) AS BIGINT) AS n_salts_hit
        FROM events GROUP BY event_type
    """,
    "q257_dpp_prune": """
        SELECT o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price,
               COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_orderpriority
    """,
    "q242_bucketed_join": """
        SELECT o_orderstatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
    """,
    "q192_zonemap_prune": """
        WITH rng AS (
            SELECT MIN(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                       AS mind,
                   MAX(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                       AS maxd,
                   MAX(o_orderkey) AS maxk
            FROM orders),
        base AS (
            SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
                   CAST(o_orderkey * 64 // (maxk + 1) AS INT) AS fa,
                   CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                         - mind) * 64 // (maxd - mind + 1) AS INT) AS fc
            FROM orders CROSS JOIN rng),
        stacked AS (
            SELECT d, 'arrival' AS layout, fa AS file_id FROM base
            UNION ALL
            SELECT d, 'clustered' AS layout, fc AS file_id FROM base),
        zm AS (
            SELECT layout, file_id,
                   MIN(d) AS min_d, MAX(d) AS max_d,
                   COUNT(*) AS n_rows
            FROM stacked GROUP BY layout, file_id),
        probes AS (
            SELECT CAST(p AS INT) AS probe,
                   mind + p * (maxd - mind + 1) // 8 AS lo,
                   mind + (p + 1) * (maxd - mind + 1) // 8 AS hi
            FROM (SELECT unnest(generate_series(0, 7)) AS p)
            CROSS JOIN rng)
        SELECT layout,
               probe,
               COUNT(*) AS n_files,
               CAST(SUM(CASE WHEN max_d >= lo AND min_d < hi
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS files_scanned,
               CAST(SUM(CASE WHEN max_d >= lo AND min_d < hi
                             THEN n_rows ELSE 0 END) AS BIGINT)
                   AS rows_scanned,
               ROUND(CAST(1.0 AS DOUBLE)
                     - CAST(SUM(CASE WHEN max_d >= lo AND min_d < hi
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / COUNT(*), 6) AS prune_frac
        FROM zm CROSS JOIN probes
        GROUP BY layout, probe
    """,
    "q106_zorder_layout": f"""
        WITH rng AS (
            SELECT MIN(l_partkey) AS minx, MAX(l_partkey) AS maxx,
                   MIN(l_suppkey) AS miny, MAX(l_suppkey) AS maxy
            FROM lineitem),
        q AS (
            SELECT CAST((l_partkey - minx) * 65535
                        // GREATEST(maxx - minx, 1) AS BIGINT) AS xq,
                   CAST((l_suppkey - miny) * 65535
                        // GREATEST(maxy - miny, 1) AS BIGINT) AS yq
            FROM lineitem CROSS JOIN rng),
        z AS (
            SELECT xq, yq,
                   {_z_interleave_sql('xq', 'yq', _duck_shr)} AS zval
            FROM q)
        SELECT CAST(zval >> {_ZBUCKET_SHIFT} AS BIGINT) AS bucket,
               COUNT(*) AS n,
               MIN(xq) AS min_xq, MAX(xq) AS max_xq,
               MIN(yq) AS min_yq, MAX(yq) AS max_yq
        FROM z GROUP BY 1
    """,
    "q107_countmin_sketch": f"""
        WITH seeds(si, a, b) AS (VALUES {_DUCK_SEEDS}),
        counters AS (
            SELECT si,
                   ((a * user_id + b) % {_CMS_P}) % {_CMS_W} AS bucket,
                   COUNT(*) AS cnt
            FROM events CROSS JOIN seeds
            GROUP BY 1, 2),
        probe AS (
            SELECT user_id, COUNT(*) AS exact_n
            FROM events GROUP BY 1
            ORDER BY exact_n DESC, user_id LIMIT 20),
        est AS (
            SELECT p.user_id, p.exact_n, MIN(c.cnt) AS cms_est
            FROM probe p CROSS JOIN seeds s
            JOIN counters c
              ON c.si = s.si
             AND c.bucket = ((s.a * p.user_id + s.b) % {_CMS_P}) % {_CMS_W}
            GROUP BY 1, 2)
        SELECT user_id,
               CAST(exact_n AS BIGINT) AS exact_n,
               CAST(cms_est AS BIGINT) AS cms_est,
               CAST(cms_est - exact_n AS BIGINT) AS overest
        FROM est
    """,
    "q108_bloom_prune": f"""
        WITH seeds(si, a, b) AS (VALUES {_DUCK_BLOOM_SEEDS}),
        members AS (
            SELECT s_suppkey FROM supplier WHERE s_nationkey <= 2),
        bcfg AS (
            SELECT (1 << GREATEST(8,
                        LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) + 2)) AS m
            FROM members),
        bset AS (
            SELECT DISTINCT si,
                   ((a * s_suppkey + b) % {_CMS_P})
                       % (SELECT m FROM bcfg) AS bucket
            FROM members CROSS JOIN seeds),
        cand AS (SELECT DISTINCT l_suppkey FROM lineitem),
        pairs AS (
            SELECT c.l_suppkey, s.si,
                   ((s.a * c.l_suppkey + s.b) % {_CMS_P})
                       % (SELECT m FROM bcfg) AS bucket
            FROM cand c CROSS JOIN seeds s),
        hits AS (
            SELECT p.l_suppkey,
                   COUNT(b.bucket) AS n_hits
            FROM pairs p LEFT JOIN bset b
              ON b.si = p.si AND b.bucket = p.bucket
            GROUP BY 1
            HAVING COUNT(b.bucket) = {_BLOOM_K})
        SELECT h.l_suppkey,
               COALESCE(m.s_suppkey IS NOT NULL, FALSE) AS is_member
        FROM hits h LEFT JOIN members m ON m.s_suppkey = h.l_suppkey
    """,
    # q120: the same hash/rank/register/estimate literals; ranks via
    # binary-string length (integer-exact both engines), the register
    # sum as exact integers, and the shared _HLL_EST float chain.
    "q120_hll_sketch": f"""
        WITH h AS (
            SELECT event_type,
                   ({_hll_mix_sql("user_id", _duck_xor, _duck_shr)})
                       % {_HLL_M} AS bucket,
                   ({_hll_mix_sql("user_id", _duck_xor, _duck_shr)})
                       // {_HLL_M} AS rest
            FROM events),
        ranks AS (
            SELECT event_type, bucket,
                   MAX(CASE WHEN rest = 0 THEN {_HLL_MAXRANK}
                            ELSE {_HLL_MAXRANK}
                                 - length(printf('%b', rest)) END) AS reg
            FROM h GROUP BY event_type, bucket),
        spine AS (
            SELECT t.event_type, b.bucket
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(range({_HLL_M})) AS bucket) b),
        regs AS (
            SELECT s.event_type, COALESCE(r.reg, 0) AS reg
            FROM spine s LEFT JOIN ranks r
              ON r.event_type = s.event_type AND r.bucket = s.bucket),
        per_type AS (
            SELECT event_type,
                   CAST(SUM(1 << ({_HLL_MAXRANK} - reg)) AS BIGINT)
                       AS s_int,
                   CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS v
            FROM regs GROUP BY event_type),
        exact AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
            FROM events GROUP BY event_type)
        SELECT p.event_type,
               p.v AS n_zero_registers,
               {_HLL_EST} AS est_users,
               e.exact_users,
               ROUND(({_HLL_EST} - e.exact_users) / e.exact_users, 4)
                   AS rel_err
        FROM per_type p JOIN exact e ON e.event_type = p.event_type
    """,
    # q148: the merge algebra with the same literals — per-partition
    # registers, register-wise MAX merge, direct-pass registers, and
    # the mismatch audit (always 0: max is associative).
    "q148_hll_merge": f"""
        WITH h AS (
            SELECT event_type, event_id % 2 AS part,
                   ({_hll_mix_sql("user_id", _duck_xor, _duck_shr)})
                       % {_HLL_M} AS bucket,
                   ({_hll_mix_sql("user_id", _duck_xor, _duck_shr)})
                       // {_HLL_M} AS rest
            FROM events),
        per_part AS (
            SELECT event_type, part, bucket,
                   MAX(CASE WHEN rest = 0 THEN {_HLL_MAXRANK}
                            ELSE {_HLL_MAXRANK}
                                 - length(printf('%b', rest)) END) AS reg
            FROM h GROUP BY event_type, part, bucket),
        merged AS (
            SELECT event_type, bucket, MAX(reg) AS reg_m
            FROM per_part GROUP BY event_type, bucket),
        direct AS (
            SELECT event_type, bucket,
                   MAX(CASE WHEN rest = 0 THEN {_HLL_MAXRANK}
                            ELSE {_HLL_MAXRANK}
                                 - length(printf('%b', rest)) END) AS reg_d
            FROM h GROUP BY event_type, bucket),
        audit AS (
            SELECT COALESCE(m.event_type, d.event_type) AS event_type,
                   CAST(SUM(CASE WHEN COALESCE(m.reg_m, -1)
                                      <> COALESCE(d.reg_d, -2)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_register_mismatches
            FROM merged m FULL JOIN direct d
              ON d.event_type = m.event_type AND d.bucket = m.bucket
            GROUP BY 1),
        spine AS (
            SELECT t.event_type, b.bucket
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(range({_HLL_M})) AS bucket) b),
        regs AS (
            SELECT s.event_type, COALESCE(m.reg_m, 0) AS reg
            FROM spine s LEFT JOIN merged m
              ON m.event_type = s.event_type AND m.bucket = s.bucket),
        per_type AS (
            SELECT event_type,
                   CAST(SUM(1 << ({_HLL_MAXRANK} - reg)) AS BIGINT)
                       AS s_int,
                   CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS v
            FROM regs GROUP BY event_type),
        exact AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
            FROM events GROUP BY event_type)
        SELECT p.event_type,
               a.n_register_mismatches,
               {_HLL_EST} AS est_users,
               e.exact_users,
               ROUND(({_HLL_EST} - e.exact_users) / e.exact_users, 4)
                   AS rel_err
        FROM per_type p
        JOIN audit a ON a.event_type = p.event_type
        JOIN exact e ON e.event_type = p.event_type
    """,
    "q163_rle_audit": """
        WITH o AS (
            SELECT l_returnflag AS rf, l_linestatus AS ls,
                   CAST(l_suppkey AS STRING) AS sk,
                   lag(l_returnflag) OVER wrf AS prf,
                   lag(l_linestatus) OVER wls AS pls,
                   lag(CAST(l_suppkey AS STRING)) OVER wsk AS psk
            FROM lineitem
            WINDOW
              wrf AS (ORDER BY l_orderkey, l_linenumber, l_returnflag),
              wls AS (ORDER BY l_orderkey, l_linenumber, l_linestatus),
              wsk AS (ORDER BY l_orderkey, l_linenumber,
                      CAST(l_suppkey AS STRING))),
        t AS (
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN prf IS NULL OR prf <> rf
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS runs_rf,
                   CAST(SUM(CASE WHEN pls IS NULL OR pls <> ls
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS runs_ls,
                   CAST(SUM(CASE WHEN psk IS NULL OR psk <> sk
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS runs_sk
            FROM o)
        SELECT 'l_returnflag' AS column_name, n_rows,
               runs_rf AS n_runs,
               ROUND(CAST(n_rows AS DOUBLE) / runs_rf, 6)
                   AS avg_run_len
        FROM t
        UNION ALL
        SELECT 'l_linestatus', n_rows, runs_ls,
               ROUND(CAST(n_rows AS DOUBLE) / runs_ls, 6)
        FROM t
        UNION ALL
        SELECT 'l_suppkey', n_rows, runs_sk,
               ROUND(CAST(n_rows AS DOUBLE) / runs_sk, 6)
        FROM t
    """,
    "q185_bitmap_index": f"""
        WITH cells AS (
            SELECT l_returnflag AS flag,
                   l_orderkey // {_BM_BITS} AS blk,
                   l_orderkey % {_BM_BITS} AS bit
            FROM lineitem),
        masks AS (
            SELECT flag, blk,
                   bit_or(CAST(1 AS BIGINT) << CAST(bit AS INT)) AS mask
            FROM cells GROUP BY flag, blk),
        totals AS (
            SELECT flag, CAST(SUM(bit_count(mask)) AS BIGINT) AS n
            FROM masks GROUP BY flag),
        inter AS (
            SELECT a.flag AS flag_a, b.flag AS flag_b,
                   CAST(SUM(bit_count(a.mask & b.mask)) AS BIGINT)
                       AS n_intersect
            FROM masks a JOIN masks b
              ON b.blk = a.blk AND a.flag < b.flag
            GROUP BY a.flag, b.flag)
        SELECT i.flag_a, i.flag_b, ta.n AS n_a, tb.n AS n_b,
               i.n_intersect,
               ta.n + tb.n - i.n_intersect AS n_union,
               ROUND(CAST(i.n_intersect AS DOUBLE)
                     / (ta.n + tb.n - i.n_intersect), 6) AS jaccard
        FROM inter i
        JOIN totals ta ON ta.flag = i.flag_a
        JOIN totals tb ON tb.flag = i.flag_b
    """,
    "q172_reshard_audit": f"""
        WITH keyed AS (
            SELECT o_orderkey AS k,
                   md5(CAST(o_orderkey AS VARCHAR)) AS h
            FROM orders),
        assigned AS (
            SELECT k,
                   {_ring_assign_sql(_RING_OLD, "duckdb")} AS r32,
                   {_ring_assign_sql(_RING_NEW, "duckdb")} AS r48
            FROM keyed),
        agg AS (
            SELECT COUNT(*) AS n_keys,
                   SUM(CASE WHEN r32 <> r48 THEN 1 ELSE 0 END) AS m_ring,
                   SUM(CASE WHEN k % 32 <> k % 48 THEN 1 ELSE 0 END)
                       AS m_mod
            FROM assigned)
        SELECT strategy, CAST(n_keys AS BIGINT) AS n_keys,
               CAST(n_moved AS BIGINT) AS n_moved,
               ROUND(CAST(n_moved AS DOUBLE) / n_keys, 6)
                   AS moved_share
        FROM (
            SELECT 'mod' AS strategy, m_mod AS n_moved, n_keys FROM agg
            UNION ALL
            SELECT 'ring', m_ring, n_keys FROM agg) u
    """,
}
