"""Corpus-curation queries round 4: split assignment, PII scrubbing,
mixture reweighting, Zipf head-term statistics.

Engine extensions beyond the reference (SURVEY.md §2.I), extending the
plans/llm.py training-data surface with the curation steps that come
AFTER dedup/quality filtering in a real pipeline: carve reproducible
train/val/test splits, account for + redact PII-shaped spans, compute
temperature-based domain mixing weights, and fit the Zipf head of each
source's term distribution as a corpus-health signal.

Same contract as every other plan module: exact ANSI-SQL oracle twins,
identical column aliases on both sides, decimal/ROUND conventions per
functions/exact.py where floats are observable.

Scale notes (100 TB story):
- q79/q80 are scan-side projections + one partial-agg shuffle — the
  same shape as q19/q39; md5-hash splitting needs no RNG state and is
  stable under any partitioning.
- q81 aggregates to a sources-sized frame; the scalar total/normalizer
  ride tiny broadcast cross joins (the audit-scalar precedent), never
  a corpus-side shuffle.
- q82's per-source ranking window filters on row_number <= K, which
  Spark plans as WindowGroupLimit: every map task keeps a local top-K
  before the shuffle, so per-source state is bounded by K — the
  unbounded-vocab single-task window never materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import checkpoint_tracked
from ..functions import text as TX
from ..schemas import load_table
from ._buckets import bucket_of, bucket_offsets, quantile_bounds
from .analytics import _CHI_CONTRIB

_TOK = "string_split_regex(lower(trim(text)), '\\s+')"

# PII patterns written in the Java-regex/RE2 common subset so Spark and
# DuckDB match identical spans. Replacement order is part of the query
# contract: email -> url -> phone.
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL = r"https?://[^\s]+"
_PHONE = r"\d{3}[-. ]\d{3}[-. ]\d{4}"

# Zipf head size: the fit runs on each source's top-K terms (standard
# practice — the head is where the power law holds), which is also what
# keeps the ranking window WindowGroupLimit-bounded.
_ZIPF_HEAD = 500


def q79_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split accounting: assign each doc by
    the first byte of md5(doc_id) — <5% test, next ~5% val, rest train
    (reproducible on any cluster, any partitioning, no RNG state; the
    q39 hash-sampling technique applied to split carving). Returns per
    (source, split) doc and token counts — the manifest a training run
    records before materializing shards."""
    d = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "0d", F.lit("test"))
        .when(h2 < "1a", F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return (
        d.select(
            "source",
            split.alias("split"),
            TX.token_count("text").alias("nt"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )
    )


def q80_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII accounting + redaction: count email/URL/phone spans and
    fingerprint the redacted text. The synthetic corpus contains no
    natural PII, so the query INJECTS deterministic PII-shaped spans
    (derived from doc_id, identically on both engines) before
    scrubbing — the differential then verifies real match counts and a
    real multi-pattern rewrite, not a no-op. Replacement order
    (email -> url -> phone) is part of the contract."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.example/"),
        F.col("doc_id").cast("string"),
        F.lit(" or 555-010 555-0100"),
        # every 3rd doc also carries a phone-shaped span
        F.when(
            F.col("doc_id") % 3 == 0, F.lit(" call 415-555-0199 now")
        ).otherwise(F.lit("")),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _EMAIL, "<EMAIL>"), _URL, "<URL>"
        ),
        _PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_URL)).cast("long").alias("n_urls"),
        F.regexp_count(aug, F.lit(_PHONE)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_fp"),
    )


def q81_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (the multilingual-sampling
    standard, alpha = 0.5): per-source sampling weight proportional to
    p^alpha, renormalized — upweights small sources, tempers dominant
    ones. Output: raw share, tempered weight, and the expected token
    budget per source under the reweighting. The per-source frame is
    sources-sized; totals ride broadcast scalar cross joins."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("source", TX.token_count("text").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").alias("total"))
    pa = per.crossJoin(F.broadcast(tot)).select(
        F.sqrt(F.col("n_tokens") / F.col("total")).alias("pa")
    )
    z = pa.agg(F.sum("pa").alias("z"))
    w = F.sqrt(F.col("n_tokens") / F.col("total")) / F.col("z")
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("total"), 6).alias("p_raw"),
            F.round(w, 6).alias("weight"),
            F.round(w * F.col("total"), 3).alias("expected_tokens"),
        )
    )


def q82_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head fit per source: rank the top-500 terms by frequency
    and regress ln(freq) on ln(rank) — the log-log slope (~ -1 for
    natural text) is the standard corpus-health / synthetic-text
    signal. The rank window filters row_number <= K, which Spark plans
    as WindowGroupLimit (bounded per-task state); regr_slope runs on
    the tiny head frame. ROUND(,6) absorbs cross-engine float
    association noise in the moment sums."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(TX.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wspec = Window.partitionBy("source").orderBy(
        F.col("freq").desc(), F.col("term")
    )
    head = freq.withColumn("rn", F.row_number().over(wspec)).filter(
        F.col("rn") <= _ZIPF_HEAD
    )
    return head.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(
            F.expr("regr_slope(ln(freq), ln(rn))"), 6
        ).alias("zipf_slope"),
    )


def q191_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: V(n) ≈ K·n^β, estimated from
    8 corpus checkpoints — the scaling audit that says whether a
    corpus keeps yielding NEW vocabulary as it grows (β ≈ 0.5 for
    natural text; β near 0 means the tail is recycled boilerplate, β
    near 1 means noise/IDs) — the companion to q82's Zipf head fit
    and the curve a data-buying decision actually reads ("how much
    new language does the next 10 TB add?"). The vocabulary unit is
    the word TRIGRAM (q110's shingle vocabulary at k=3): this
    generator's unigram/bigram vocab saturates in the first checkpoint
    (31/916 values), which would make the fit degenerate — the
    docstring-stated precondition is an unsaturated vocab unit, and
    trigrams grow throughout. Docs enter in doc_id order; checkpoint k
    covers doc_ids below (k+1)/8 of the id range. Output: one row per
    checkpoint with cumulative trigram occurrences and cumulative
    distinct trigrams, plus the fitted (beta, k_const, r2) broadcast
    on every row.

    Scale shape: a term's contribution to EVERY checkpoint is decided
    by its FIRST-occurrence doc_id alone — one explode + min-agg
    shuffle (term-keyed), no per-checkpoint rescan; per-checkpoint
    token mass is one partial-agg shuffle on the 8-value bucket key.
    Both cumulations run as broadcast triangular joins on the ≤8-row
    bucket frames (q150 discipline — no window at all), and the
    log-log fit runs on 8 rows (regr_* aggregates, ROUND 6 absorbing
    float association noise, the q82 convention)."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("mx"))
    docs = (
        d.select(
            "doc_id",
            F.greatest(
                TX.token_count("text") - 2, F.lit(0)
            ).alias("nt"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr("CAST(doc_id * 8 DIV (mx + 1) AS INT)").alias("bkt"),
            "nt",
        )
    )
    spine = docs.groupBy("bkt").agg(F.sum("nt").alias("bt"))
    first = (
        d.select(
            "doc_id",
            F.explode(TX.shingles(TX.tokens("text"), 3)).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("doc_id").alias("fd"))
        .crossJoin(F.broadcast(mx))
        .select(F.expr("CAST(fd * 8 DIV (mx + 1) AS INT)").alias("bkt"))
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("bv"))
    )
    nk = (
        spine.alias("a")
        .join(
            F.broadcast(spine.alias("b")),
            F.col("b.bkt") <= F.col("a.bkt"),
        )
        .groupBy(F.col("a.bkt").alias("bkt"))
        .agg(F.sum("b.bt").alias("n_cum"))
    )
    pts = (
        nk.alias("a")
        .join(
            F.broadcast(first.alias("v")),
            F.col("v.bkt") <= F.col("a.bkt"),
            "left",
        )
        .groupBy(F.col("a.bkt").alias("ckpt"), F.col("a.n_cum").alias("n_cum"))
        .agg(F.coalesce(F.sum("v.bv"), F.lit(0)).alias("v_cum"))
        .filter((F.col("n_cum") > 0) & (F.col("v_cum") > 0))
    )
    fit = pts.agg(
        F.round(
            F.expr("regr_slope(ln(v_cum), ln(n_cum))"), 6
        ).alias("beta"),
        F.round(
            F.expr("exp(regr_intercept(ln(v_cum), ln(n_cum)))"), 6
        ).alias("k_const"),
        F.round(F.expr("regr_r2(ln(v_cum), ln(n_cum))"), 6).alias("r2"),
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        F.col("ckpt").cast("int").alias("ckpt"),
        F.col("n_cum").alias("n_tokens_cum"),
        F.col("v_cum").alias("vocab_cum"),
        "beta",
        "k_const",
        "r2",
    )


# q109 ring geometry: the multiplicative (Knuth) hash spreads doc_ids
# around a 2^32 ring. The shard count is DATA-derived (VERDICT r04 #4 —
# a fixed 32 meant corpus/32 rows in one rank-window task):
# max(_RING_MIN_SHARDS, ceil(n_docs / _RING_TARGET)), so every window
# partition is bounded by ~_RING_TARGET rows at any corpus size. The
# rule is exact integer/ceil arithmetic both engines state verbatim, so
# the oracle stays hash-comparable without a session-conf side channel.
_RING_MULT = 2654435761
_RING_MOD = 4294967296
_RING_TARGET = 65536
_RING_MIN_SHARDS = 32
_NEG_PER_DOC = 2


def _negative_ring(
    d: DataFrame,
    neg_per_doc: int = _NEG_PER_DOC,
    target: int = _RING_TARGET,
    min_shards: int = _RING_MIN_SHARDS,
) -> DataFrame:
    """Ring-neighbor negative mining over a (doc_id) frame. The 1-row
    count aggregate broadcasts onto the scan, so deriving the shard
    count costs one tiny job, not a corpus shuffle."""
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    nsh = F.greatest(
        F.lit(min_shards).cast("bigint"),
        F.ceil(F.col("n_docs") / F.lit(float(target))),
    )
    ring = (
        d.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            ((F.col("doc_id") * F.lit(_RING_MULT)) % F.lit(_RING_MOD)).alias(
                "h"
            ),
            nsh.alias("nsh"),
        )
        .withColumn("shard", F.col("h") % F.col("nsh"))
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    pos = ring.select(
        "shard",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("shard")).alias("cnt"),
    )
    slots = F.explode(
        F.array(*[F.lit(i) for i in range(1, neg_per_doc + 1)])
    )
    anchors = pos.select(
        "shard", "doc_id", "rn", "cnt", slots.alias("slot")
    ).withColumn(
        "target_rn", ((F.col("rn") - 1 + F.col("slot")) % F.col("cnt")) + 1
    )
    neigh = pos.select(
        F.col("shard").alias("n_shard"),
        F.col("rn").alias("n_rn"),
        F.col("doc_id").alias("neg_id"),
    )
    return (
        anchors.join(
            neigh,
            (F.col("shard") == F.col("n_shard"))
            & (F.col("target_rn") == F.col("n_rn")),
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
        .select("doc_id", "slot", "neg_id")
    )


def q109_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic in-batch negative mining for contrastive training:
    place every doc on a hash ring (Knuth multiplicative hash of
    doc_id), shard the ring, and take each anchor's next
    ``_NEG_PER_DOC`` ring neighbors (wrapping within the shard) as its
    negatives — reproducible on any cluster, no RNG state, and
    hash-distance ~ random so neighbors are unbiased negatives.
    Output long-format (doc_id, slot, neg_id); self-pairs from
    tiny shards are filtered.

    Scale shape: the rank window runs per shard, and the shard count
    scales with the corpus (``_negative_ring``) so no partition exceeds
    ~``_RING_TARGET`` rows; the neighbor lookup is ONE equi-join on
    (shard, ring position) — co-partitioned, never doc x doc."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return _negative_ring(d)


def q110_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the curation signal for "does this
    doc add anything the corpus hasn't seen": share of the doc's
    distinct word 5-grams whose FIRST appearance (min doc_id over the
    whole corpus) is this doc. Duplicates score ~0, fresh content ~1;
    mid values flag partial rehashes q23/q25 miss. Same shingle
    vocabulary as q63's contamination audit.

    Scale shape: the exploded (doc, shingle) frame is persisted and
    read by two PARTIAL AGGS — per-doc shingle counts and per-shingle
    min-owner (whose winners then count per owner) — and the final
    join is DOC-sized, not (doc, shingle)-sized. The naive
    formulation (join the shingle frame back to its own min-owner
    aggregate) both recomputes the explode for each consumer (no
    exchange reuse across non-identical subplans) and shuffles the
    full token-scale frame a second time; this shape was 3x faster at
    sf0.1 and is the one that survives 100x."""
    from ..caching import persist_tracked
    from ..operators.similarity import _ensure_parallelism

    # spread the single-file scan BEFORE the CPU-heavy shingle explode
    # (one split in = one task for the whole tokenize+explode pass)
    d = _ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = persist_tracked(
        d.select(
            "doc_id",
            F.explode(TX.shingles(TX.tokens("text"), 5)).alias("sh"),
        )
    )
    per_doc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    novel = (
        sh.groupBy("sh")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(
            novel, per_doc.doc_id == novel.first_doc, "left"
        )
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles"))
            .alias("novelty_rate"),
        )
    )


# q112 vocabulary size: the top-V corpus tokens by (freq DESC, token)
# form the "tokenizer vocab"; V is a plan literal so the global top-V
# plans as TakeOrderedAndProject (per-task local heaps, driver merge).
_VOCAB_V = 1000


def q112_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV audit: build a frequency vocabulary of
    the corpus's top-V tokens and report, per source, the token count
    and the share of token OCCURRENCES that fall outside the vocab —
    the coverage check run before freezing any tokenizer (high OOV in
    a source means the vocab under-serves it; compare q92's fertility
    audit, which measures pieces-per-word instead of misses).

    Scale shape: token frequencies are one (token)-keyed partial agg;
    the global top-V is TakeOrderedAndProject (never a global sort or
    a single-task ranking window); the V-row vocab broadcasts into
    the per-source join, so the token stream shuffles once, on its
    natural (source) audit key."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(TX.tokens("text")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(_VOCAB_V)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


# q114 bucket caps: powers of two, chosen integer-exactly via a CASE
# chain (log2-of-double would misround at exact powers). The same SQL
# text runs on both engines.
_LEN_BINS = (16, 32, 64, 128, 256, 512, 1024)
_LEN_CASE = (
    "CASE "
    + " ".join(f"WHEN n_tok <= {b} THEN {b}" for b in _LEN_BINS)
    + f" ELSE {2 * _LEN_BINS[-1]} END"
)


def q114_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for batch efficiency: assign each doc
    to the smallest power-of-two token capacity that holds it (the
    padding buckets a training/serving batcher uses so same-batch
    sequences pad to the same cap), and report per bucket the doc
    count, real token count, padding tokens, and padding waste rate —
    the number that decides whether the batcher needs finer buckets
    or sequence packing (q40) instead.

    Scale shape: the bucket id is a scan-side CASE projection; ONE
    partial agg on <= 8 bucket keys. Nothing else."""
    d = load_table(spark, sf_dir, "documents")
    binned = d.select(
        F.size(TX.tokens("text")).alias("n_tok")
    ).select("n_tok", F.expr(_LEN_CASE).alias("bucket_cap"))
    return binned.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tokens"),
        F.sum((F.col("bucket_cap") - F.col("n_tok")).cast("long")).alias(
            "n_padding"
        ),
        F.round(
            F.sum((F.col("bucket_cap") - F.col("n_tok")).cast("long"))
            .cast("double")
            / F.sum(F.col("bucket_cap").cast("long")).cast("double"),
            6,
        ).alias("waste_rate"),
    )


def q119_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 characteristic terms by TF-IDF — the standard
    "what makes this domain different" profile over a mixed corpus
    (the curation signal behind per-domain vocabulary pruning and
    mixture diagnostics). idf = ln(n_sources / df) over SOURCE
    document frequency; scores round to 6 decimals BEFORE ranking and
    ties break by term, so the top-5 cut is engine-identical.

    Scale shape: two partial-agg shuffles on (source, term) / (term) —
    signatures of the corpus, never text; the source count is a 1-row
    broadcast; the per-source ranking window filters row_number <= 5,
    which Spark plans as WindowGroupLimit (bounded per-task state,
    exactly like q82's head)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(TX.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nsrc = d.select("source").distinct().agg(
        F.count(F.lit(1)).alias("n_src")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("n_src").cast("double")
                    / F.col("df").cast("double")
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("source", "term", "tf", "df", "tfidf", "rank")
    )


# q122 BM25 geometry: Okapi BM25 with the textbook k1/b and a fixed
# 3-term query. The scoring expression is ONE shared SQL string (every
# operand explicitly double-cast so neither engine silently routes the
# 0.5/0.75 literals through its own decimal-promotion rules), evaluated
# by Spark via F.expr and pasted verbatim into the oracle — textual
# identity is what makes the float chain engine-identical. Per-term
# contributions snap to DECIMAL(18,6) before the per-doc sum so the
# 3-term addition is exact and order-independent.
_BM25_TERMS = ("hash", "join", "vector")
_BM25_CONTRIB = (
    "CAST(ROUND("
    "ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))"
    " * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))"
    " / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)"
    " + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)"
    " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 6)"
    " AS DECIMAL(18,6))"
)


# q125 weighted-sampling geometry: Efraimidis-Spirakis A-ES — each item
# draws u ~ Uniform(0,1] and keys on -ln(u)/w; the k SMALLEST keys are a
# weighted sample without replacement. The uniform comes from the Knuth
# hash of doc_id ((h+1)/2^32, never 0), so the "random" sample is fully
# deterministic and reproducible on any cluster — the q39/q104 no-RNG
# discipline applied to WEIGHTED selection. The key expression is one
# shared double-cast chain (q122 convention), rounded to 9 before the
# (key, doc_id) order so the top-k cut is engine-identical.
_WS_K = 32
_WS_KEY = (
    "ROUND(-ln((CAST(h AS DOUBLE) + CAST(1.0 AS DOUBLE))"
    " / CAST(4294967296.0 AS DOUBLE)) / CAST(w AS DOUBLE), 9)"
)


def q125_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES,
    Efraimidis & Spirakis 2006): select 32 documents with probability
    proportional to token count — the "sample long docs more" draw a
    curation pipeline uses for human review and eval-set construction,
    reproducible bit-for-bit on any cluster because the uniforms are
    hashed, not drawn.

    Scale shape: one scan computes (weight, hash, key) row-locally;
    the k-smallest cut is TakeOrderedAndProject (per-partition heaps,
    driver merges k rows) — no global sort, no RNG state."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "source",
        TX.token_count("text").alias("w"),
        (
            (F.col("doc_id") * F.lit(_RING_MULT)) % F.lit(_RING_MOD)
        ).alias("h"),
    ).filter(F.col("w") > 0)
    return (
        keyed.select(
            "doc_id",
            "source",
            F.col("w").alias("n_tokens"),
            F.expr(_WS_KEY).alias("samp_key"),
        )
        .orderBy("samp_key", "doc_id")
        .limit(_WS_K)
    )


# q128 geometry: boilerplate = distinct documents sharing their first
# _PREFIX_K tokens verbatim (site headers, license preambles, template
# intros). The md5 of the joined prefix is the group key, so only a
# 32-char fingerprint per doc crosses the shuffle — never the prefix
# text — and the group table is one partial-agg groupBy.
_PREFIX_K = 8


def q128_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix detection: fingerprint every document's first
    8 tokens and report fingerprints shared by ≥2 documents — the
    template/header audit a curation pipeline runs before training
    (shared prefixes across SOURCES are site chrome worth stripping;
    within one source they're usually a license preamble). Output: one
    row per shared prefix with its cardinality, source spread, the
    smallest member doc_id, and the prefix's token count share.

    Scale shape: one scan computes the fingerprint row-locally (the
    token array is materialized once behind its own projection); the
    group table is a single map-side-combined groupBy on the 32-char
    hash, and the ≥2 filter prunes it before anything else happens."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", TX.tokens("text").alias("t")
    )
    fp = toks.filter(F.size("t") >= _PREFIX_K).select(
        "doc_id",
        "source",
        F.md5(
            F.concat_ws(" ", F.slice("t", 1, _PREFIX_K))
        ).alias("prefix_fp"),
    )
    return (
        fp.groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("representative"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# q132 exactness: each term's entropy contribution p·ln(1/p) =
# (c/N)·ln(N/c) is a double chain over exact integer counts, snapped
# to DECIMAL(18,9) so the per-source entropy is an EXACT sum — order-
# independent at any parallelism (the q124 contribution pattern).
_ENT_TERM = (
    "CAST(ROUND((CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))"
    " * ln(CAST(nt AS DOUBLE) / CAST(c AS DOUBLE)), 9)"
    " AS DECIMAL(18,9))"
)


def q132_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy (nats) with its normalized
    form H/ln(V) — the lexical-diversity score curation pipelines use
    to flag template farms (low entropy: the same tokens over and
    over) and noise sources (entropy ≈ ln V: near-uniform gibberish).
    Output: source, token total, vocabulary size, entropy, normalized
    entropy.

    Scale shape: tokens collapse to (source, term) counts in ONE
    map-side-combined shuffle; the entropy is an exact decimal sum
    over that term table, and vocabulary is the same table's row
    count — nothing rescans the corpus."""
    d = load_table(spark, sf_dir, "documents")
    terms = (
        d.select("source", F.explode_outer(TX.tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_src = terms.groupBy("source").agg(
        F.sum("c").alias("nt"), F.count(F.lit(1)).alias("vocab")
    )
    contrib = terms.join(F.broadcast(per_src), "source").select(
        "source", "nt", "vocab", F.expr(_ENT_TERM).alias("h_term")
    )
    return contrib.groupBy("source", "nt", "vocab").agg(
        F.round(F.sum("h_term").cast("double"), 6).alias("entropy"),
        F.round(
            F.sum("h_term").cast("double")
            / F.log(F.col("vocab").cast("double")),
            6,
        ).alias("norm_entropy"),
    ).select(
        "source",
        F.col("nt").alias("n_tokens"),
        "vocab",
        "entropy",
        "norm_entropy",
    )


def q133_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-diversity audit: Simpson's diversity index
    1 − Σc(c−1)/(N(N−1)) over the language mix plus the majority-
    language share — the "is this source monolingual?" check before
    per-language routing. Integer-exact until two final divisions
    (the q127 discipline), so any partitioning yields the same bits.

    Scale shape: one (source, lang) partial-agg shuffle, then
    aggregates of that tiny cell table."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    return cells.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("c") * (F.col("c") - 1)).cast("double")
            / (
                F.sum("c") * (F.sum("c") - F.lit(1))
            ).cast("double"),
            6,
        ).alias("simpson"),
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 6
        ).alias("majority_share"),
    )


# q143 vocabulary cap: the drift test runs over the top-_DRIFT_V
# total-count terms (deterministic count-desc, term-asc cut), so the
# contingency table is (V × 2) regardless of vocabulary size — the
# q118 capping idea applied to a two-sample homogeneity test.
_DRIFT_V = 32


def q143_split_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/heldout term-distribution drift: a chi-square homogeneity
    test between the training split and the held-out split (q79's
    deterministic md5 carve) over the top-32 corpus terms — the
    leakage/shift audit run before trusting a validation loss (a
    significant statistic means the heldout set is NOT the same
    distribution, and eval numbers will mislead). Output: the full
    (term × split) contingency table with observed, expected, per-cell
    contribution, and the table statistic + dof on every row (q124's
    layout).

    Scale shape: tokens collapse to (split, term) counts in ONE
    partial-agg shuffle; the vocabulary cut is TakeOrderedAndProject
    over the term-total table; every margin is an aggregate of the
    V×2 DENSIFIED cell table (missing cells count as observed 0, so
    absent-in-heldout terms contribute their full expected mass)."""
    d = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    grp = F.when(h2 < "1a", F.lit("heldout")).otherwise(F.lit("train"))
    counts = (
        d.select(grp.alias("grp"), F.explode_outer(TX.tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from ..caching import persist_tracked

    counts = persist_tracked(counts)
    vocab = (
        counts.groupBy("term")
        .agg(F.sum("c").alias("rt"))
        .orderBy(F.desc("rt"), F.asc("term"))
        .limit(_DRIFT_V)
    )
    grps = counts.select("grp").distinct()
    cells = (
        vocab.crossJoin(grps)
        .join(counts, on=["term", "grp"], how="left")
        .fillna(0, subset=["c"])
        .select("term", "rt", "grp", F.col("c").alias("o"))
    )
    ct = cells.groupBy("grp").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    full = cells.join(F.broadcast(ct), "grp").crossJoin(F.broadcast(tot))
    scored = full.select(
        "term",
        "grp",
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
            (F.count_distinct("term") - F.lit(1))
            * (F.count_distinct("grp") - F.lit(1))
        ).alias("dof"),
    )
    return scored.crossJoin(F.broadcast(dims)).select(
        "term",
        "grp",
        "o",
        "expected",
        F.col("contrib").cast("double").alias("contrib"),
        "chi2",
        "dof",
    )


# q151 PSI bins: the q114 length caps reused as the fixed binning —
# PSI needs STATED bins (unlike KS) and fixed caps keep the bin rule
# a plan literal both engines evaluate identically. The per-bin PSI
# term (p−q)·ln(p/q) is a double chain over exact integer counts,
# snapped to DECIMAL(18,9) before the exact sum (q132's discipline);
# Laplace-style +1 smoothing keeps empty bins finite and is part of
# the stated metric.
_PSI_TERM = (
    "CAST(ROUND((CAST(ca + 1 AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(cb + 1 AS DOUBLE) / CAST(nb AS DOUBLE))"
    " * ln((CAST(ca + 1 AS DOUBLE) / CAST(na AS DOUBLE))"
    " / (CAST(cb + 1 AS DOUBLE) / CAST(nb AS DOUBLE))), 9)"
    " AS DECIMAL(18,9))"
)
_PSI_CASE = (
    "CASE WHEN n_tok <= 32 THEN 32 WHEN n_tok <= 56 THEN 56"
    " WHEN n_tok <= 80 THEN 80 ELSE 128 END"
)


def q151_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the train and held-out
    splits' token-length distributions — the industry-standard model-
    monitoring drift score (rule of thumb: <0.1 stable, >0.25 shifted),
    completing the drift toolbox beside q127's KS (bin-free, max-gap)
    and q143's chi-square (count-significance): PSI weighs RELATIVE
    bin shifts symmetrically, which is what makes it the production
    alarm metric. Output: one row per bin with both smoothed shares
    and the bin's PSI term, plus the total index on every row.

    Scale shape: docs collapse to (split, bin) counts in one partial-
    agg shuffle; everything after runs on the 4×2 cell table; the PSI
    sum is exact decimal (q124's layout)."""
    d = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    grp = F.when(h2 < "1a", F.lit("heldout")).otherwise(F.lit("train"))
    cells = (
        d.select(
            grp.alias("grp"),
            F.size(TX.tokens("text")).alias("n_tok"),
        )
        .select("grp", F.expr(_PSI_CASE).alias("bin_cap"))
        .groupBy("grp", "bin_cap")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bins = cells.select("bin_cap").distinct()
    a = cells.filter(F.col("grp") == "train").select(
        "bin_cap", F.col("c").alias("ca")
    )
    b = cells.filter(F.col("grp") == "heldout").select(
        "bin_cap", F.col("c").alias("cb")
    )
    dense = (
        bins.join(a, "bin_cap", "left")
        .join(b, "bin_cap", "left")
        .fillna(0, subset=["ca", "cb"])
    )
    # smoothed denominators: n + n_bins (each bin gets +1)
    tot = dense.agg(
        (F.sum("ca") + F.count(F.lit(1))).alias("na"),
        (F.sum("cb") + F.count(F.lit(1))).alias("nb"),
    )
    scored = dense.crossJoin(F.broadcast(tot)).select(
        "bin_cap",
        "ca",
        "cb",
        F.round(
            (F.col("ca") + 1).cast("double") / F.col("na").cast("double"),
            6,
        ).alias("p_train"),
        F.round(
            (F.col("cb") + 1).cast("double") / F.col("nb").cast("double"),
            6,
        ).alias("p_heldout"),
        F.expr(_PSI_TERM).alias("psi_term"),
    )
    total = scored.agg(
        F.round(F.sum("psi_term").cast("double"), 6).alias("psi")
    )
    return scored.crossJoin(F.broadcast(total)).select(
        "bin_cap",
        "ca",
        "cb",
        "p_train",
        "p_heldout",
        F.col("psi_term").cast("double").alias("psi_term"),
        "psi",
    )


# q118 PMI geometry: co-occurrence is computed over the top-_PMI_V
# document-frequency terms only — the vocabulary cap is what bounds the
# per-document pair fan-out at V^2/2 regardless of document length or
# corpus size (the same constant-vocabulary trick as q112). Pairs below
# _PMI_MIN_SUPPORT docs are noise and excluded before ranking.
_PMI_V = 50
_PMI_MIN_SUPPORT = 5


def q118_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — top-20 term pairs by pointwise mutual
    information over document co-occurrence: PMI = ln(P(a,b) /
    (P(a)P(b))) with probabilities as document fractions, the classic
    "which terms travel together" signal behind phrase detection and
    tokenizer-merge candidates. All counts are exact integers; the
    single ln runs on one exact integer ratio, rounded to 6 before the
    (pmi desc, term_a, term_b) rank, so the cut is engine-identical.

    Scale shape: the vocabulary is a TakeOrderedAndProject head
    (_PMI_V rows, broadcast); per-doc distinct vocab terms self-join
    within doc_id only — <= V^2/2 pairs per doc, LINEAR in corpus
    size; pair counting is one partial-agg shuffle on (a, b); the
    final cut is TakeOrderedAndProject, never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(TX.tokens("text")).alias("term")
    ).distinct()
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(_PMI_V)
    )
    vt = toks.join(F.broadcast(vocab), "term")
    pairs = (
        vt.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"), "doc_id")
        .join(
            vt.select(
                F.col("term").alias("term_b"),
                F.col("df").alias("df_b"),
                "doc_id",
            ),
            "doc_id",
        )
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_SUPPORT)
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = pairs.crossJoin(F.broadcast(n_docs)).select(
        "term_a",
        "term_b",
        "n_ab",
        "df_a",
        "df_b",
        F.round(
            F.log(
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("df_a") * F.col("df_b")).cast("double")
            ),
            6,
        ).alias("pmi"),
    )
    return scored.orderBy(F.col("pmi").desc(), "term_a", "term_b").limit(20)


def q122_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the documents table for the fixed
    query {hash, join, vector} (k1=1.2, b=0.75): the lexical-retrieval
    baseline every corpus search/contamination tool starts from. Docs
    containing none of the query terms are unscored by contract; the
    top 10 by (score desc, doc_id) are returned.

    Scale shape: doc lengths and corpus stats are one scan + a 1-row
    broadcast; term frequencies only exist for the 3 query terms
    (the isin filter pushes into the exploded projection), so the
    scored frame is tiny regardless of corpus size; final cut is
    TakeOrderedAndProject, never a global sort."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens("text").alias("toks")
    )
    dl = d.select("doc_id", F.size("toks").cast("long").alias("dl"), "toks")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        dl.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", F.expr(_BM25_CONTRIB).alias("c"))
    )
    return (
        contrib.groupBy("doc_id", "dl")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum("c").cast("double").alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


def q158_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over the quasi-identifier triple (nation,
    market segment, account-balance band): how many records share each
    QI combination, bucketed into the standard risk tiers — k=1 means
    the record is unique on its quasi-identifiers (re-identifiable by
    linkage), k<5 is the conventional release threshold. The privacy
    audit a training-data pipeline runs BEFORE publishing user-derived
    data; the companion to q80's PII span scrub (q80 redacts direct
    identifiers, this measures the indirect ones).

    Scale shape: one partial-agg shuffle keyed on the QI tuple
    collapses the table to group sizes; the tier histogram and the
    row-share denominator are aggregates OF that group frame (a
    broadcast scalar) — nothing row-sized crosses a second shuffle.
    The balance band uses floor(x/1000): 2-decimal inputs sit ≥1e-5
    from band boundaries, far above double ulp, so banding is exact."""
    c = load_table(spark, sf_dir, "customer")
    groups = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias(
                "bal_band"
            ),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    hist = groups.groupBy(
        F.when(F.col("k") == 1, F.lit("1"))
        .when(F.col("k") < 5, F.lit("2-4"))
        .when(F.col("k") < 10, F.lit("5-9"))
        .otherwise(F.lit("10+"))
        .alias("k_tier")
    ).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("k").alias("n_rows"),
    )
    tot = hist.agg(F.sum("n_rows").alias("n_total"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "k_tier",
        "n_groups",
        "n_rows",
        F.round(
            F.col("n_rows").cast("double") / F.col("n_total"), 6
        ).alias("row_share"),
    )


def q160_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index construction: one posting row per
    (term, document) with the term frequency and the comma-joined
    sorted 0-based token positions — the materialization step under
    every retrieval stack (q119's TF-IDF and q122's BM25 consume
    exactly these statistics; phrase and proximity queries need the
    positions). Building it as a table is the batch-index job.

    Scale shape: tokenize + posexplode is scan-side; ONE partial-agg
    shuffle keyed (term, doc_id) builds every posting — doc_id in the
    key means a hot term ("the") spreads over all its documents
    instead of funneling into one reducer, the standard index-build
    partitioning. Positions sort inside each posting (bounded by
    document length), never globally."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode_outer(TX.tokens("text")).alias("pos", "term"),
    ).filter(F.col("term").isNotNull())
    return tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("pos")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("positions"),
    )


# q165's information-theoretic chains (corpus ln-snap convention:
# every transcendental term rounds to 9 decimals and sums as exact
# decimal, so the aggregate is order-independent and engine-equal).
_MI_TERM = (
    "CAST(ROUND(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"
    " * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)"
    " / (CAST(rc AS DOUBLE) * CAST(tc AS DOUBLE))), 9)"
    " AS DECIMAL(18,9))"
)
_H_TERM = (
    "CAST(ROUND(-(CAST(mc AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln(CAST(mc AS DOUBLE) / CAST(n AS DOUBLE)), 9)"
    " AS DECIMAL(18,9))"
)
_NMI = (
    "CASE WHEN h_source > 0 AND h_lang > 0 THEN"
    " ROUND(mi / sqrt(h_source * h_lang), 6) ELSE NULL END"
)


# q171 subset levels: md5-hex thresholds chosen so each level NESTS in
# the next (a smaller threshold is a strict subset of a larger one) —
# the property scaling-law experiments require: the 10% run's data is
# contained in the 25% run's, so curve points differ only by scale,
# never by composition. '1a'/'40'/'80' = 26/64/128 of 256 first-byte
# values (~10.2%, 25%, 50%).
_SCALE_LEVELS = (("p10", "1a"), ("p25", "40"), ("p50", "80"))


def q171_scaling_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested scaling-law subset manifest: deterministic ~10/25/50/100%
    corpus subsets by md5(doc_id) first-byte threshold, reported as
    doc/token counts and token share — the data side of a scaling-law
    sweep (train the same model at 4 scales). Nesting is structural
    (threshold containment), so each larger run strictly extends the
    smaller one's corpus; no RNG, same subsets on any cluster.

    Scale shape: ONE scan with conditional partial aggs (8 measures),
    no joins, no windows — the 4-row answer falls out of a stack()."""
    d = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    base = d.select(
        h2.alias("h2"), F.size(TX.tokens("text")).alias("nt")
    )
    measures = []
    for name, thr in _SCALE_LEVELS:
        inset = F.col("h2") < thr
        measures += [
            F.sum(F.when(inset, 1).otherwise(0)).alias(f"d_{name}"),
            F.sum(F.when(inset, F.col("nt")).otherwise(0)).alias(
                f"t_{name}"
            ),
        ]
    measures += [
        F.count(F.lit(1)).alias("d_p100"),
        F.sum("nt").alias("t_p100"),
    ]
    agg = base.agg(*measures)
    lvls = ", ".join(
        f"'{name}', d_{name}, t_{name}"
        for name, _ in (*_SCALE_LEVELS, ("p100", None))
    )
    return agg.select(
        F.expr(
            f"stack(4, {lvls}) AS (level, n_docs, n_tokens)"
        ),
        F.col("t_p100").alias("_tot"),
    ).select(
        "level",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            F.col("n_tokens").cast("double") / F.col("_tot"), 6
        ).alias("token_share"),
    )


# q166 BPE trainer: fixed merge count, so the whole "iterative"
# trainer is SQL-expressible by unrolling (the q60/q73 convention).
_BPE_ROUNDS = 5


def _bpe_word_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-frequency table exploded to per-character symbol rows —
    the state the BPE trainer iterates on (Sennrich et al. 2016 §3.2
    operates on word counts, never the raw corpus)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode_outer(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("word")
        )
        .filter(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return words.select(
        "word",
        "cnt",
        F.posexplode_outer(F.split("word", "")).alias("idx", "sym"),
    ).filter(F.col("sym").isNotNull() & (F.col("sym") != ""))


def _bpe_pair_counts(sym: DataFrame) -> DataFrame:
    """Adjacent-pair statistics: every neighboring symbol position,
    weighted by word frequency (the reference get_stats — overlapping
    positions all count; the greedy non-overlap rule applies only to
    the MERGE pass, not the statistics)."""
    w = Window.partitionBy("word").orderBy("idx")
    return (
        sym.withColumn("nxt", F.lead("sym").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("sym").alias("left_sym"),
            F.col("nxt").alias("right_sym"),
        )
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _bpe_merge_pass(sym: DataFrame, a: str, b: str) -> DataFrame:
    """One greedy left-to-right non-overlapping merge of pair (a, b).

    Candidate positions (sym=a, next=b) can only be CONSECUTIVE when
    a == b (a run like 'aaa'); sequential greedy keeps the candidates
    at even offsets within each consecutive run — a pure window parity
    rule, so the inherently-sequential rewrite runs as one
    word-partitioned window pass, no per-word loop anywhere."""
    w = Window.partitionBy("word").orderBy("idx")
    cand = (
        sym.withColumn("nxt", F.lead("sym").over(w))
        .filter((F.col("sym") == a) & (F.col("nxt") == b))
        .select("word", "idx")
    )
    runs = cand.withColumn("grp", F.col("idx") - F.row_number().over(w))
    valid = (
        runs.withColumn(
            "g0", F.min("idx").over(Window.partitionBy("word", "grp"))
        )
        .filter((F.col("idx") - F.col("g0")) % 2 == 0)
        .select("word", "idx")
    )
    starts = valid.select("word", "idx", F.lit(1).alias("mstart"))
    drops = valid.select(
        "word", (F.col("idx") + 1).alias("idx"), F.lit(1).alias("mdrop")
    )
    kept = (
        sym.join(starts, ["word", "idx"], "left")
        .join(drops, ["word", "idx"], "left")
        .filter(F.col("mdrop").isNull())
    )
    return kept.select(
        "word",
        "cnt",
        (F.row_number().over(w) - 1).alias("idx2"),
        F.when(F.col("mstart") == 1, F.lit(a + b))
        .otherwise(F.col("sym"))
        .alias("sym2"),
    ).select(
        "word",
        "cnt",
        F.col("idx2").alias("idx"),
        F.col("sym2").alias("sym"),
    )


def q166_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge induction over the corpus — the first
    5 merge rules a BPE tokenizer trainer (Sennrich et al. 2016) learns
    from this text, each with the adjacent-pair frequency that selected
    it. THE vocabulary-induction primitive of LLM data work: the
    trainer that produces the merge table q61's BPE-ish tokenizer
    consumes.

    Semantics contract: pair statistics count every adjacent symbol
    position weighted by word frequency; selection is argmax count
    with a lexicographic (left, right) tiebreak; the merge pass
    rewrites greedily left-to-right with non-overlapping occurrences
    (see _bpe_merge_pass — the parity rule IS sequential greedy).

    Scale shape: the corpus is scanned ONCE (word histogram, one
    partial-agg shuffle); all rounds then run on the VOCAB-sized
    symbol table — Sennrich's trainer is vocab-bound by design, which
    is exactly why it scales to 100 TB corpora. Each round is one
    word-keyed window exchange plus a 1-row argmax collected driver-
    side (the k-means convention: the learned rule IS plan state for
    the next round), and the merged symbol table is localCheckpoint'd
    so lineage stays flat across rounds (q47 discipline)."""
    sym = checkpoint_tracked(_bpe_word_symbols(spark, sf_dir))
    picks = []
    for r in range(1, _BPE_ROUNDS + 1):
        top = (
            _bpe_pair_counts(sym)
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(1)
            .collect()[0]
        )
        a, b = top["left_sym"], top["right_sym"]
        picks.append((r, a, b, a + b, int(top["pair_count"])))
        if r < _BPE_ROUNDS:
            sym = checkpoint_tracked(_bpe_merge_pass(sym, a, b))
    return spark.createDataFrame(
        picks,
        schema="merge_rank int, left_sym string, right_sym string,"
        " merged string, pair_count bigint",
    )


def q165_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information between document source and language, with
    both marginal entropies and the normalized MI — the feature-
    relevance / redundancy measure behind information-gain feature
    selection and stratification design (q124's chi-square answers
    "are they dependent?"; MI answers "by how many nats", and NMI
    makes it comparable across label sets of different cardinality).
    A near-zero NMI here certifies sources are language-balanced, so
    per-source sampling won't skew the language mix.

    Scale shape: the corpus collapses to the (source × lang)
    contingency table in ONE partial-agg shuffle; marginals and the
    total are aggregates of that ≤|S|·|L|-row frame (broadcast
    scalars); every ln term is snapped to decimal(18,9) before the
    exact sum (the q132 entropy convention)."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    rc = cells.groupBy("source").agg(F.sum("c").alias("rc"))
    tc = cells.groupBy("lang").agg(F.sum("c").alias("tc"))
    n = cells.agg(F.sum("c").alias("n"))
    mi = (
        cells.join(F.broadcast(rc), "source")
        .join(F.broadcast(tc), "lang")
        .crossJoin(F.broadcast(n))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(
                F.sum(F.expr(_MI_TERM)).cast("double"), 6
            ).alias("mi"),
        )
    )
    hs = (
        rc.withColumnRenamed("rc", "mc")
        .crossJoin(F.broadcast(n))
        .agg(
            F.round(F.sum(F.expr(_H_TERM)).cast("double"), 6).alias(
                "h_source"
            )
        )
    )
    hl = (
        tc.withColumnRenamed("tc", "mc")
        .crossJoin(F.broadcast(n))
        .agg(
            F.round(F.sum(F.expr(_H_TERM)).cast("double"), 6).alias(
                "h_lang"
            )
        )
    )
    return (
        mi.crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(hl))
        .select(
            "n_cells",
            "mi",
            "h_source",
            "h_lang",
            F.expr(_NMI).alias("nmi"),
        )
    )


# q195's per-term KL contributions: each side's term contributes
# p·ln(2p/(p+q)) to its KL(·‖M) half. The double chain runs from the
# exact integer counts (c1,c2,n1,n2) in ONE shared SQL string per side
# (identical expression tree → identical IEEE bits on both engines),
# is rounded to 9 decimals and cast to DECIMAL(18,9), so the sum is
# exact and order-independent (the q124/q132 convention). Zero counts
# contribute exactly 0 (lim p→0 of p·ln(2p/m) = 0).
_JSD_TERM_A = (
    "CASE WHEN c1 > 0 THEN CAST(ROUND("
    "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    " * ln(2 * (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    " / (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))), 9)"
    " AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END"
)
_JSD_TERM_B = (
    "CASE WHEN c2 > 0 THEN CAST(ROUND("
    "(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " * ln(2 * (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " + CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))), 9)"
    " AS DECIMAL(18,9)) ELSE CAST(0 AS DECIMAL(18,9)) END"
)


def q195_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the unigram distributions of
    two corpus sources (src0 vs src1) — the symmetric, bounded
    (0 ≤ JSD ≤ ln 2) distribution-shift measure curation pipelines
    prefer over raw KL (q151's PSI diverges on disjoint support; JSD
    does not, which matters when comparing a new crawl against a
    reference corpus that shares only part of the vocabulary).
    Output: one row — token totals, per-side vocabularies, shared
    vocabulary, JSD in nats and bits.

    Scale shape: the corpus collapses to one row per term in ONE
    map-side-combined shuffle (conditional counts per source); totals
    are a broadcast 1-row scalar; every per-term contribution is
    codegen'd arithmetic. Nothing rescans the documents table."""
    d = load_table(spark, sf_dir, "documents")
    terms = (
        d.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode_outer(TX.tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .groupBy("term")
        .agg(
            F.sum((F.col("source") == "src0").cast("long")).alias("c1"),
            F.sum((F.col("source") == "src1").cast("long")).alias("c2"),
        )
    )
    tot = terms.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum((F.col("c1") > 0).cast("long")).alias("vocab1"),
        F.sum((F.col("c2") > 0).cast("long")).alias("vocab2"),
        F.sum(((F.col("c1") > 0) & (F.col("c2") > 0)).cast("long")).alias(
            "vocab_shared"
        ),
    )
    contrib = terms.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        "vocab1",
        "vocab2",
        "vocab_shared",
        F.expr(_JSD_TERM_A).alias("ka"),
        F.expr(_JSD_TERM_B).alias("kb"),
    )
    return contrib.groupBy(
        "n1", "n2", "vocab1", "vocab2", "vocab_shared"
    ).agg(
        F.expr(
            "ROUND(CAST(SUM(ka) + SUM(kb) AS DOUBLE) / 2, 6)"
        ).alias("jsd_nats"),
        F.expr(
            "ROUND(CAST(SUM(ka) + SUM(kb) AS DOUBLE) / 2"
            " / ln(CAST(2 AS DOUBLE)), 6)"
        ).alias("jsd_bits"),
    )


def q212_quantile_normalization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization of document length across sources: map
    each doc's length to the GLOBAL length distribution's value at the
    doc's source-relative rank quantile (the microarray-normalization
    classic applied to corpus features) — after it, every source has
    the same length distribution, so per-source length-based quality
    gates (q51, q197) compare like with like instead of penalizing a
    feed for merely being long-form. Type-1 mapping with integer rank
    arithmetic: a doc at source rank r of n_s maps to the global
    k = ceil(r·N/n_s)-th smallest value, ties broken by doc_id — both
    engines pick identical values (the q95/q205 contract). Output: one
    row per source — n, raw mean, normalized mean.

    Scale shape: ONE global boundary probe buckets the corpus; the
    per-source ranks run (source, bucket)-partitioned windows with
    broadcast triangular offsets (q205's composite-key two-phase) and
    the global ranks the same with bucket-only keys; the value lookup
    is an equi-join on the computed k — no unpartitioned window, no
    per-group sort, at any corpus size."""
    from pyspark.sql.window import Window

    from ..caching import persist_tracked

    base = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    b = base.withColumn("_kd", F.col("n_chars").cast("double"))
    bnds = quantile_bounds(b, "_kd")
    bk = persist_tracked(b.withColumn("_bkt", bucket_of("_kd", bnds)))

    # per-source ranks (composite-key two-phase)
    bs_s = bk.groupBy("source", "_bkt").agg(F.count(F.lit(1)).alias("bn"))
    offs_s = bucket_offsets(bs_s, {"soff": (F.sum, "bn")}, by=("source",))
    ns = bs_s.groupBy("source").agg(F.sum("bn").alias("n_s"))
    wl_s = Window.partitionBy("source", "_bkt").orderBy("n_chars", "doc_id")
    ranked = (
        bk.join(F.broadcast(offs_s), ["source", "_bkt"])
        .withColumn("r", F.col("soff") + F.row_number().over(wl_s))
        .join(F.broadcast(ns), "source")
    )

    # global ranked values (bucket-key two-phase over the same frame)
    bs_g = bk.groupBy("_bkt").agg(F.count(F.lit(1)).alias("bn"))
    offs_g = bucket_offsets(bs_g, {"goff": (F.sum, "bn")})
    wl_g = Window.partitionBy("_bkt").orderBy("n_chars", "doc_id")
    gvals = (
        bk.join(F.broadcast(offs_g), "_bkt")
        .withColumn("gr", F.col("goff") + F.row_number().over(wl_g))
        .select("gr", F.col("n_chars").alias("gv"))
    )
    n_total = bs_g.agg(F.sum("bn").alias("nn"))

    mapped = (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn("k", F.expr("(r * nn + n_s - 1) DIV n_s"))
        .join(gvals, F.col("k") == F.col("gr"))
    )
    return mapped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            "ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)"
        ).alias("mean_raw"),
        F.expr(
            "ROUND(CAST(SUM(gv) AS DOUBLE) / COUNT(*), 6)"
        ).alias("mean_normalized"),
    )


def q215_nucleus_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) vocabulary coverage per source: the smallest
    count-ranked term prefix whose cumulative mass reaches 80% of the
    source's tokens — the "how head-heavy is this feed?" audit that
    complements q82's Zipf slope (a 50-term nucleus means template
    text; a nucleus near the whole vocabulary means diverse prose).
    The 80% gate compares in exact integers (5·cum ≥ 4·T — no float
    enters the cut decision); the prefix order is (count DESC, term
    ASC) on both engines. Output: one row per source — token total,
    vocabulary, nucleus size, the nucleus's actual share.

    Scale shape: tokens collapse to (source, term) counts in ONE
    map-side-combined shuffle; the ranked cumsum runs the q205
    composite-key two-phase rewrite ((source, bucket)-partitioned
    windows + broadcast triangular offsets over count-derived buckets,
    DESC like q196); the nucleus pick is one min_by aggregate."""
    d = load_table(spark, sf_dir, "documents")
    terms = (
        d.select("source", F.explode_outer(TX.tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    b = terms.withColumn("_cd", F.col("c").cast("double"))
    bnds = quantile_bounds(b, "_cd")
    bk = b.withColumn("_bkt", bucket_of("_cd", bnds))
    bs = bk.groupBy("source", "_bkt").agg(
        F.count(F.lit(1)).alias("bn"), F.sum("c").alias("bc")
    )
    # DESC prefix: offsets accumulate from HIGHER count buckets
    offs = bucket_offsets(
        bs,
        {"roff": (F.sum, "bn"), "coff": (F.sum, "bc")},
        by=("source",),
        desc=True,
    )
    tot = bs.groupBy("source").agg(
        F.sum("bc").alias("t"), F.sum("bn").alias("v")
    )
    wl = Window.partitionBy("source", "_bkt").orderBy(
        F.col("c").desc(), F.col("term")
    )
    r = (
        bk.join(F.broadcast(offs), ["source", "_bkt"])
        .withColumn("rk", F.col("roff") + F.row_number().over(wl))
        .withColumn(
            "cum",
            F.col("coff")
            + F.sum("c").over(wl.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .join(F.broadcast(tot), "source")
        .filter(5 * F.col("cum") >= 4 * F.col("t"))
    )
    return r.groupBy("source", "t", "v").agg(
        F.min("rk").alias("n_top_p"),
        F.expr(
            "ROUND(CAST(min_by(cum, rk) AS DOUBLE) / CAST(t AS DOUBLE), 6)"
        ).alias("top_p_share"),
    ).select(
        "source",
        F.col("t").alias("n_tokens"),
        F.col("v").alias("vocab"),
        "n_top_p",
        "top_p_share",
    )


def q224_small_cell_suppression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Statistical-disclosure-control publication pass: the (nation ×
    market segment) customer count table with cells under k=5
    SUPPRESSED (published value NULL) and per-nation margins
    recomputed over the published cells only — the output-side
    companion to q158/q207 (those AUDIT re-identification risk; this
    produces the actually-releasable table, the step census bureaus
    and data-sharing agreements mandate). Output: one row per cell —
    the suppression flag, the published (possibly NULL) count, and
    the nation's published margin + suppressed-cell tally so a
    consumer can bound what suppression hid.

    Scale shape: one partial-agg shuffle to cells; margins are an
    aggregate OF the cell frame re-joined by nation (broadcast — the
    margin frame is nation-sized). No row-level data survives."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    pub = cells.select(
        "c_nationkey",
        "c_mktsegment",
        (F.col("n") < 5).alias("suppressed"),
        F.when(F.col("n") >= 5, F.col("n")).alias("published_n"),
    )
    margins = pub.groupBy("c_nationkey").agg(
        F.coalesce(F.sum("published_n"), F.lit(0)).alias(
            "nation_published_total"
        ),
        F.sum(F.col("suppressed").cast("long")).alias(
            "nation_suppressed_cells"
        ),
    )
    return pub.join(F.broadcast(margins), "c_nationkey")


def q209_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration audit: the Herfindahl–Hirschman index of
    token mass across sources, plus its inverse (the "effective number
    of sources") — the one-number answer to "is this corpus really
    diverse, or is it one crawl wearing twenty labels?" that a mixing
    plan (q81) should be checked against after sampling. HHI =
    Σ(tᵢ/T)² = Σtᵢ²/T² stays a ratio of EXACT sums (q127 discipline):
    tᵢ² accumulates in DECIMAL(19,0)² = 38 digits (the q135 cap both
    engines support), so the sum is order-independent where a double
    Σtᵢ² would drift past 2⁵³. Output: one row — source count, token
    total, max share, HHI, effective source count 1/HHI.

    Scale shape: the corpus collapses to one row per source in ONE
    partial-agg shuffle (token counts are row-local array sizes);
    everything after aggregates the ≤source-count frame."""
    d = load_table(spark, sf_dir, "documents")
    per_src = (
        d.select("source", F.size(TX.tokens("text")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("t"))
    )
    return per_src.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("t").alias("total_tokens"),
        F.expr(
            "ROUND(CAST(MAX(t) AS DOUBLE) / CAST(SUM(t) AS DOUBLE), 6)"
        ).alias("max_share"),
        F.expr(
            "ROUND(CAST(SUM(CAST(t AS DECIMAL(19,0))"
            " * CAST(t AS DECIMAL(19,0))) AS DOUBLE)"
            " / (CAST(SUM(t) AS DOUBLE) * CAST(SUM(t) AS DOUBLE)), 6)"
        ).alias("hhi"),
        F.expr(
            "ROUND((CAST(SUM(t) AS DOUBLE) * CAST(SUM(t) AS DOUBLE))"
            " / CAST(SUM(CAST(t AS DECIMAL(19,0))"
            " * CAST(t AS DECIMAL(19,0))) AS DOUBLE), 6)"
        ).alias("effective_sources"),
    )


def q207_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion to q158's k-anonymity: within
    each quasi-identifier group (nation × balance band), how many
    DISTINCT sensitive values (market segment) appear? A group can be
    large (k-anonymous) yet carry a single segment — linkage then
    reveals the sensitive attribute exactly; l ≥ 3 is the conventional
    release bar. Output: one row per l value — group count, row count,
    row share, and the l < 3 exposure flag.

    Scale shape: one (QI, sensitive) partial-agg shuffle collapses the
    table to distinct cells; l per group and the l histogram are
    aggregates OF that cell frame; the share denominator is a
    broadcast scalar. Nothing row-sized crosses a second shuffle."""
    c = load_table(spark, sf_dir, "customer")
    cells = (
        c.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias(
                "bal_band"
            ),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_band", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    groups = cells.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("l"), F.sum("n").alias("k")
    )
    hist = groups.groupBy("l").agg(
        F.count(F.lit(1)).alias("n_groups"), F.sum("k").alias("n_rows")
    )
    tot = hist.agg(F.sum("n_rows").alias("n_total"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "l",
        "n_groups",
        "n_rows",
        F.expr(
            "ROUND(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE), 6)"
        ).alias("row_share"),
        (F.col("l") < 3).alias("exposed"),
    )


def q199_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic half-sample bootstrap CI for mean document length:
    64 replicates, replicate b containing doc i iff the first hex digit
    of md5(doc_id || ':' || b) < '8' (the q39 no-RNG discipline — every
    engine, every run, every partitioning derives the same replicate
    membership). The spread of the 64 replicate means is the standard
    error readout a curation dashboard puts next to every corpus-level
    average; the CI is the [2nd, 63rd] order statistic of the replicate
    means (the central ~95% of 64). Output: one row — B, mean of
    replicate means, ci_lo, ci_hi.

    Exactness: each replicate mean is ROUND(sum/count, 9) cast to
    DECIMAL(18,9) from exact integer sums; order statistics and the
    mean-of-means then operate on exact decimals (64 · 10⁴ at scale 9
    is far below 2⁵³, so the final double conversion is exact on both
    engines). Scale shape: the doc→replicate fan-out is a row-local
    64-element sequence explode feeding ONE (b) partial-agg shuffle
    (64 groups); everything after is a 64-row frame."""
    d = load_table(spark, sf_dir, "documents")
    member = (
        d.select(
            "doc_id",
            "n_chars",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        )
        .filter(
            F.substring(
                F.md5(F.concat_ws(":", "doc_id", "b")), 1, 1
            )
            < "8"
        )
    )
    reps = member.groupBy("b").agg(
        F.expr(
            "CAST(ROUND(CAST(SUM(n_chars) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE), 9) AS DECIMAL(18,9))"
        ).alias("m")
    )
    wr = Window.orderBy("m", "b")
    ranked = reps.withColumn("rn", F.row_number().over(wr))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.expr(
            "ROUND(CAST(SUM(m) AS DOUBLE) / COUNT(*), 6)"
        ).alias("mean_of_means"),
        F.expr(
            "CAST(MAX(CASE WHEN rn = 2 THEN m END) AS DOUBLE)"
        ).alias("ci_lo"),
        F.expr(
            "CAST(MAX(CASE WHEN rn = 63 THEN m END) AS DOUBLE)"
        ).alias("ci_hi"),
    )


# q200's per-bigram-type contribution to a source's cross-entropy under
# the corpus-wide add-one bigram LM: cs occurrences × ln P(w2|w1) with
# P = (c+1)/(ch+V). Rounded to 9 and decimal-cast per TYPE, then the
# integer occurrence count scales it exactly — one shared string, both
# engines (q124 convention).
_PPL_TERM = (
    "CAST(cs AS DECIMAL(18,0))"
    " * CAST(ROUND(ln((CAST(c AS DOUBLE) + 1)"
    " / (CAST(ch AS DOUBLE) + CAST(vsz AS DOUBLE))), 9)"
    " AS DECIMAL(18,9))"
)
_PPL_H = "ROUND(-(CAST(SUM(k) AS DOUBLE)) / CAST(SUM(cs) AS DOUBLE), 6)"
_PPL_EXP = (
    "ROUND(exp(-(CAST(SUM(k) AS DOUBLE)) / CAST(SUM(cs) AS DOUBLE)), 6)"
)


def q200_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE perplexity under a corpus-wide add-one-smoothed
    bigram language model — the source-level audit twin of q105 (which
    scores individual DOCUMENTS for filtering): where q105 answers
    "which docs do we drop?", this answers "which feeds are drifting
    into noise or boilerplate?" — the dashboard number tracked per
    ingest partner over time. Smoothing base differs deliberately: V
    here is the continuation vocabulary (distinct bigram second
    tokens), the convention for conditional bigram models. Output: one
    row per source with ≥1 bigram — occurrence count, cross-entropy
    (nats), perplexity.

    Scale shape: bigram fan-out is the q68 row-local HOF projection;
    the model is ONE (w1,w2) partial-agg shuffle + a head-total
    aggregate DERIVED from that distinct-bigram frame (never a second
    corpus pass); scoring joins the per-source bigram counts to the
    model on the bigram key — all equi-joins on the distinct-bigram
    frame, corpus scanned exactly once."""
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
    occ = (
        d.select("source", F.explode_outer(bigrams).alias("bg"))
        .filter(F.col("bg").isNotNull())
    )
    from ..caching import persist_tracked

    # two consumers (the model derivation and the scoring join) read
    # the per-source counts — persist so the corpus is tokenized once
    per_src = persist_tracked(
        occ.groupBy("source", "bg").agg(F.count(F.lit(1)).alias("cs"))
    )
    glob = per_src.groupBy("bg").agg(F.sum("cs").alias("c"))
    parts = glob.select(
        F.split("bg", " ")[0].alias("w1"),
        F.split("bg", " ")[1].alias("w2"),
        "bg",
        "c",
    )
    heads = parts.groupBy("w1").agg(F.sum("c").alias("ch"))
    vsz = parts.agg(
        F.countDistinct("w2").alias("vsz")
    )
    model = parts.join(heads, "w1").crossJoin(F.broadcast(vsz))
    scored = per_src.join(model, "bg").select(
        "source", "cs", F.expr(_PPL_TERM).alias("k")
    )
    return scored.groupBy("source").agg(
        F.sum("cs").alias("n_bigrams"),
        F.expr(_PPL_H).alias("cross_entropy"),
        F.expr(_PPL_EXP).alias("perplexity"),
    )


def q269_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold cross-validation assignment: within each
    source, docs order by (md5(doc_id), doc_id) — the q39/q79 no-RNG
    discipline — and fold = (rank−1) mod 5, so every stratum's folds
    are balanced to ±1 doc EXACTLY (hash-threshold splits like q79
    only balance in expectation). Output: the per-(source, fold)
    manifest with the balance guarantee visible as max−min ≤ 1.

    Scale shape: one window shuffle partitioned by source (the
    standard per-stratum timeline contract); the manifest agg reuses
    the same partitioning."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    folded = d.select(
        "source",
        "n_chars",
        ((F.row_number().over(w) - 1) % 5).alias("fold"),
    )
    return folded.groupBy("source", "fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def q270_group_safe_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe fold assignment at the GROUP level: every doc
    inherits the fold of its exact-dup fingerprint (md5 of normalized
    text, q22's key), folds carved as hex ranges of the fingerprint —
    so two copies of the same document can NEVER straddle folds, the
    q241 train/eval-leakage failure mode for exact dups. The output
    also scores the counterfactual: how many dup groups WOULD straddle
    splits under q79's doc-level assignment (the audit that motivates
    group-level carving).

    Scale shape: fold is a pure projection of the fingerprint (no
    ranking, no shuffle); the group/doc manifest is one fp-keyed
    partial agg; the counterfactual audit reuses the same fp shuffle."""
    d = load_table(spark, sf_dir, "documents")
    fp = TX.fingerprint("text")
    h2_doc = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    doc_split = (
        F.when(h2_doc < "0d", F.lit("test"))
        .when(h2_doc < "1a", F.lit("val"))
        .otherwise(F.lit("train"))
    )
    fold = (
        F.when(F.substring(fp, 1, 2) < "33", 0)
        .when(F.substring(fp, 1, 2) < "66", 1)
        .when(F.substring(fp, 1, 2) < "99", 2)
        .when(F.substring(fp, 1, 2) < "cc", 3)
        .otherwise(4)
    )
    base = d.select(
        fp.alias("fp"),
        fold.alias("fold"),
        doc_split.alias("doc_split"),
        "n_chars",
    )
    per_group = base.groupBy("fp", "fold").agg(
        F.count(F.lit(1)).alias("gd"),
        F.sum("n_chars").alias("gc"),
        F.countDistinct("doc_split").alias("n_doc_splits"),
    )
    leaky = per_group.agg(
        F.sum(F.when(F.col("n_doc_splits") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("doc_level_leaky_groups")
    )
    return (
        per_group.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("gd").cast("bigint").alias("n_docs"),
            F.sum("gc").cast("bigint").alias("total_chars"),
        )
        .crossJoin(F.broadcast(leaky))
    )


QUERIES = {
    "q79_split_assign": q79_split_assign,
    "q269_stratified_kfold": q269_stratified_kfold,
    "q270_group_safe_folds": q270_group_safe_folds,
    "q195_js_divergence": q195_js_divergence,
    "q199_bootstrap_ci": q199_bootstrap_ci,
    "q207_l_diversity": q207_l_diversity,
    "q209_hhi_concentration": q209_hhi_concentration,
    "q212_quantile_normalization": q212_quantile_normalization,
    "q215_nucleus_coverage": q215_nucleus_coverage,
    "q224_small_cell_suppression": q224_small_cell_suppression,
    "q200_bigram_perplexity": q200_bigram_perplexity,
    "q80_pii_scrub": q80_pii_scrub,
    "q81_temperature_mix": q81_temperature_mix,
    "q82_zipf_slope": q82_zipf_slope,
    "q191_heaps_law": q191_heaps_law,
    "q109_negative_sampling": q109_negative_sampling,
    "q110_ngram_novelty": q110_ngram_novelty,
    "q112_vocab_coverage": q112_vocab_coverage,
    "q114_length_buckets": q114_length_buckets,
    "q118_term_pmi": q118_term_pmi,
    "q119_tfidf_terms": q119_tfidf_terms,
    "q122_bm25_rank": q122_bm25_rank,
    "q125_weighted_sample": q125_weighted_sample,
    "q128_boilerplate_prefix": q128_boilerplate_prefix,
    "q132_unigram_entropy": q132_unigram_entropy,
    "q133_lang_diversity": q133_lang_diversity,
    "q143_split_term_drift": q143_split_term_drift,
    "q151_psi_drift": q151_psi_drift,
    "q158_k_anonymity": q158_k_anonymity,
    "q160_inverted_index": q160_inverted_index,
    "q165_mutual_information": q165_mutual_information,
    "q166_bpe_merges": q166_bpe_merges,
    "q171_scaling_subsets": q171_scaling_subsets,
}


def _bpe_iter_sql(r: int, last: bool) -> str:
    """One unrolled BPE round for the q166 oracle: pair stats from
    s{r-1}, the argmax merge rule m{r}, and (unless this is the final
    round) the merged symbol table s{r} via the same candidate-run
    parity rule the Spark pass uses. MATERIALIZED per round — DuckDB
    inlines CTEs by default and the multi-consumer references would
    otherwise re-derive every prior round (the _KM_CTES lesson)."""
    prev = f"s{r - 1}"
    sql = f"""
        p{r} AS (SELECT a, b, SUM(cnt) AS c FROM (
                   SELECT sym AS a,
                          LEAD(sym) OVER (PARTITION BY word
                                          ORDER BY idx) AS b,
                          cnt
                   FROM {prev}) t
                 WHERE b IS NOT NULL GROUP BY a, b),
        m{r} AS (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1)"""
    if last:
        return sql
    return sql + f""",
        c{r} AS (SELECT word, idx FROM (
                   SELECT word, idx, sym,
                          LEAD(sym) OVER (PARTITION BY word
                                          ORDER BY idx) AS nxt
                   FROM {prev}) t
                 WHERE sym = (SELECT a FROM m{r})
                   AND nxt = (SELECT b FROM m{r})),
        v{r} AS (SELECT word, idx FROM (
                   SELECT word, idx,
                          MIN(idx) OVER (PARTITION BY word, grp) AS g0
                   FROM (SELECT word, idx,
                                idx - ROW_NUMBER() OVER (
                                    PARTITION BY word
                                    ORDER BY idx) AS grp
                         FROM c{r}) u) v
                 WHERE (idx - g0) % 2 = 0),
        s{r} AS MATERIALIZED (
            SELECT x.word, x.cnt,
                   ROW_NUMBER() OVER (PARTITION BY x.word
                                      ORDER BY x.idx) - 1 AS idx,
                   CASE WHEN ms.idx IS NOT NULL
                        THEN (SELECT a || b FROM m{r})
                        ELSE x.sym END AS sym
            FROM {prev} x
            LEFT JOIN v{r} ms ON ms.word = x.word AND ms.idx = x.idx
            LEFT JOIN v{r} md ON md.word = x.word AND md.idx = x.idx - 1
            WHERE md.idx IS NULL)"""


_BPE_CTES = (
    """
        WITH w AS MATERIALIZED (
            SELECT word, COUNT(*) AS cnt FROM (
              SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
                     AS word
              FROM documents) t
            WHERE word <> '' GROUP BY word),
        s0 AS MATERIALIZED (
            SELECT word, cnt, i - 1 AS idx, substr(word, i, 1) AS sym
            FROM (SELECT word, cnt,
                         unnest(generate_series(1, len(word))) AS i
                  FROM w) t)"""
    + "".join(
        "," + _bpe_iter_sql(r, last=(r == _BPE_ROUNDS))
        for r in range(1, _BPE_ROUNDS + 1)
    )
)

_BPE_FINAL = " UNION ALL ".join(
    f"SELECT {r} AS merge_rank, a AS left_sym, b AS right_sym,"
    f" a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM m{r}"
    for r in range(1, _BPE_ROUNDS + 1)
)

_Q270_FP = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

ORACLE = {
    "q269_stratified_kfold": """
        WITH folded AS (
            SELECT source, n_chars,
                   (ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                    - 1) % 5 AS fold
            FROM documents)
        SELECT source, CAST(fold AS INT) AS fold,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM folded GROUP BY 1, 2
    """,
    "q270_group_safe_folds": f"""
        WITH base AS (
            SELECT {_Q270_FP} AS fp,
                   CASE WHEN substr({_Q270_FP}, 1, 2) < '33' THEN 0
                        WHEN substr({_Q270_FP}, 1, 2) < '66' THEN 1
                        WHEN substr({_Q270_FP}, 1, 2) < '99' THEN 2
                        WHEN substr({_Q270_FP}, 1, 2) < 'cc' THEN 3
                        ELSE 4 END AS fold,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                             < '0d' THEN 'test'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                             < '1a' THEN 'val'
                        ELSE 'train' END AS doc_split,
                   n_chars
            FROM documents),
        per_group AS (
            SELECT fp, fold, COUNT(*) AS gd, SUM(n_chars) AS gc,
                   COUNT(DISTINCT doc_split) AS n_doc_splits
            FROM base GROUP BY 1, 2),
        leaky AS (
            SELECT CAST(SUM(CASE WHEN n_doc_splits > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS doc_level_leaky_groups
            FROM per_group)
        SELECT fold, COUNT(*) AS n_groups,
               CAST(SUM(gd) AS BIGINT) AS n_docs,
               CAST(SUM(gc) AS BIGINT) AS total_chars,
               doc_level_leaky_groups
        FROM per_group, leaky
        GROUP BY fold, doc_level_leaky_groups
    """,
    "q195_js_divergence": f"""
        WITH toks AS (
            SELECT source, unnest({_TOK}) AS term
            FROM documents WHERE source IN ('src0', 'src1')),
        counts AS (
            SELECT term,
                   CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                        AS BIGINT) AS c1,
                   CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                        AS BIGINT) AS c2
            FROM toks WHERE term IS NOT NULL AND term <> ''
            GROUP BY term),
        tot AS (
            SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS vocab1,
                   CAST(SUM(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS vocab2,
                   CAST(SUM(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS vocab_shared
            FROM counts),
        contrib AS (
            SELECT n1, n2, vocab1, vocab2, vocab_shared,
                   {_JSD_TERM_A} AS ka,
                   {_JSD_TERM_B} AS kb
            FROM counts, tot)
        SELECT n1, n2, vocab1, vocab2, vocab_shared,
               ROUND(CAST(SUM(ka) + SUM(kb) AS DOUBLE) / 2, 6) AS jsd_nats,
               ROUND(CAST(SUM(ka) + SUM(kb) AS DOUBLE) / 2
                     / ln(CAST(2 AS DOUBLE)), 6) AS jsd_bits
        FROM contrib
        GROUP BY n1, n2, vocab1, vocab2, vocab_shared
    """,
    "q224_small_cell_suppression": """
        WITH cells AS (
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
            FROM customer GROUP BY c_nationkey, c_mktsegment),
        pub AS (
            SELECT c_nationkey, c_mktsegment,
                   n < 5 AS suppressed,
                   CASE WHEN n >= 5 THEN CAST(n AS BIGINT) END
                       AS published_n
            FROM cells),
        margins AS (
            SELECT c_nationkey,
                   CAST(COALESCE(SUM(published_n), 0) AS BIGINT)
                       AS nation_published_total,
                   CAST(SUM(CASE WHEN suppressed THEN 1 ELSE 0 END)
                        AS BIGINT) AS nation_suppressed_cells
            FROM pub GROUP BY c_nationkey)
        SELECT p.c_nationkey, p.c_mktsegment, p.suppressed,
               p.published_n, m.nation_published_total,
               m.nation_suppressed_cells
        FROM pub p JOIN margins m ON m.c_nationkey = p.c_nationkey
    """,
    "q215_nucleus_coverage": f"""
        WITH terms AS (
            SELECT source, term, COUNT(*) AS c FROM (
                SELECT source, unnest({_TOK}) AS term FROM documents) t
            WHERE term IS NOT NULL AND term <> ''
            GROUP BY source, term),
        tot AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS v
            FROM terms GROUP BY source),
        ranked AS (
            SELECT source, term, c,
                   CAST(ROW_NUMBER() OVER w AS BIGINT) AS rk,
                   CAST(SUM(c) OVER (w ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum
            FROM terms
            WINDOW w AS (PARTITION BY source ORDER BY c DESC, term)),
        hits AS (
            SELECT r.source, r.rk, r.cum, tot.t, tot.v
            FROM ranked r JOIN tot ON tot.source = r.source
            WHERE 5 * r.cum >= 4 * tot.t)
        SELECT source,
               t AS n_tokens,
               v AS vocab,
               MIN(rk) AS n_top_p,
               ROUND(CAST(arg_min(cum, rk) AS DOUBLE) / CAST(t AS DOUBLE),
                     6) AS top_p_share
        FROM hits GROUP BY source, t, v
    """,
    "q212_quantile_normalization": """
        WITH base AS (
            SELECT source, doc_id, n_chars FROM documents),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM base),
        s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
              FROM base GROUP BY source),
        r AS (SELECT source, doc_id, n_chars,
                     CAST(ROW_NUMBER() OVER (PARTITION BY source
                                             ORDER BY n_chars, doc_id)
                          AS BIGINT) AS r
              FROM base),
        g AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
                          AS BIGINT) AS gr,
                     n_chars AS gv
              FROM base),
        mapped AS (
            SELECT r.source, r.n_chars, g.gv
            FROM r
            JOIN s ON s.source = r.source
            CROSS JOIN t
            JOIN g ON g.gr = (r.r * t.nn + s.n_s - 1) // s.n_s)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)
                   AS mean_raw,
               ROUND(CAST(SUM(gv) AS DOUBLE) / COUNT(*), 6)
                   AS mean_normalized
        FROM mapped GROUP BY source
    """,
    "q209_hhi_concentration": f"""
        WITH per_src AS (
            SELECT source, CAST(SUM(len({_TOK})) AS BIGINT) AS t
            FROM documents GROUP BY source)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
               CAST(SUM(t) AS BIGINT) AS total_tokens,
               ROUND(CAST(MAX(t) AS DOUBLE) / CAST(SUM(t) AS DOUBLE), 6)
                   AS max_share,
               ROUND(CAST(SUM(CAST(t AS DECIMAL(19,0))
                               * CAST(t AS DECIMAL(19,0))) AS DOUBLE)
                     / (CAST(SUM(t) AS DOUBLE) * CAST(SUM(t) AS DOUBLE)),
                     6) AS hhi,
               ROUND((CAST(SUM(t) AS DOUBLE) * CAST(SUM(t) AS DOUBLE))
                     / CAST(SUM(CAST(t AS DECIMAL(19,0))
                                * CAST(t AS DECIMAL(19,0))) AS DOUBLE),
                     6) AS effective_sources
        FROM per_src
    """,
    "q207_l_diversity": """
        WITH cells AS (
            SELECT c_nationkey,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
                   c_mktsegment,
                   COUNT(*) AS n
            FROM customer
            GROUP BY c_nationkey, 2, c_mktsegment),
        groups AS (
            SELECT c_nationkey, bal_band,
                   CAST(COUNT(*) AS BIGINT) AS l,
                   CAST(SUM(n) AS BIGINT) AS k
            FROM cells GROUP BY c_nationkey, bal_band),
        hist AS (
            SELECT l,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(k) AS BIGINT) AS n_rows
            FROM groups GROUP BY l),
        tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM hist)
        SELECT l, n_groups, n_rows,
               ROUND(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
                   AS row_share,
               l < 3 AS exposed
        FROM hist, tot
    """,
    "q199_bootstrap_ci": """
        WITH member AS (
            SELECT doc_id, n_chars, b
            FROM documents, (SELECT unnest(range(0, 64)) AS b)
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':'
                             || CAST(b AS VARCHAR)), 1, 1) < '8'),
        reps AS (
            SELECT b,
                   CAST(ROUND(CAST(SUM(n_chars) AS DOUBLE)
                              / CAST(COUNT(*) AS DOUBLE), 9)
                        AS DECIMAL(18,9)) AS m
            FROM member GROUP BY b),
        ranked AS (
            SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM reps)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
               ROUND(CAST(SUM(m) AS DOUBLE) / COUNT(*), 6)
                   AS mean_of_means,
               CAST(MAX(CASE WHEN rn = 2 THEN m END) AS DOUBLE) AS ci_lo,
               CAST(MAX(CASE WHEN rn = 63 THEN m END) AS DOUBLE) AS ci_hi
        FROM ranked
    """,
    "q200_bigram_perplexity": f"""
        WITH occ AS (
            SELECT source,
                   unnest(list_transform(
                       range(1, len({_TOK})),
                       i -> array_to_string(({_TOK})[i:i+1], ' ')))
                       AS bg
            FROM documents),
        per_src AS (
            SELECT source, bg, COUNT(*) AS cs FROM occ GROUP BY source, bg),
        bgc AS (
            SELECT bg, CAST(SUM(cs) AS BIGINT) AS c
            FROM per_src GROUP BY bg),
        parts AS (
            SELECT string_split(bg, ' ')[1] AS w1,
                   string_split(bg, ' ')[2] AS w2, bg, c
            FROM bgc),
        heads AS (
            SELECT w1, CAST(SUM(c) AS BIGINT) AS ch FROM parts GROUP BY w1),
        vs AS (
            SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS vsz FROM parts),
        scored AS (
            SELECT s.source, s.cs, {_PPL_TERM} AS k
            FROM per_src s
            JOIN parts g ON g.bg = s.bg
            JOIN heads h ON h.w1 = g.w1
            CROSS JOIN vs)
        SELECT source,
               CAST(SUM(cs) AS BIGINT) AS n_bigrams,
               {_PPL_H} AS cross_entropy,
               {_PPL_EXP} AS perplexity
        FROM scored GROUP BY source
    """,
    "q79_split_assign": f"""
        SELECT source,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                    THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN 'val'
                    ELSE 'train' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(len({_TOK})) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1, 2
    """,
    "q80_pii_scrub": f"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com via https://ex.example/'
                        || CAST(doc_id AS VARCHAR)
                        || ' or 555-010 555-0100'
                        || CASE WHEN doc_id % 3 = 0
                                THEN ' call 415-555-0199 now'
                                ELSE '' END AS a
            FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(a, '{_EMAIL}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(a, '{_URL}')) AS BIGINT)
                   AS n_urls,
               CAST(len(regexp_extract_all(a, '{_PHONE}')) AS BIGINT)
                   AS n_phones,
               md5(regexp_replace(
                       regexp_replace(
                           regexp_replace(a, '{_EMAIL}', '<EMAIL>', 'g'),
                           '{_URL}', '<URL>', 'g'),
                       '{_PHONE}', '<PHONE>', 'g')) AS redacted_fp
        FROM aug
    """,
    "q81_temperature_mix": f"""
        WITH per AS (SELECT source,
                            CAST(SUM(len({_TOK})) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per),
        z AS (SELECT SUM(sqrt(n_tokens / total)) AS z FROM per, tot)
        SELECT source, n_tokens,
               ROUND(n_tokens / total, 6) AS p_raw,
               ROUND(sqrt(n_tokens / total) / z, 6) AS weight,
               ROUND(sqrt(n_tokens / total) / z * total, 3)
                   AS expected_tokens
        FROM per, tot, z
    """,
    "q191_heaps_law": f"""
        WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        docs AS (
            SELECT CAST(doc_id * 8 // (m.mx + 1) AS INT) AS bkt,
                   GREATEST(len({_TOK}) - 2, 0) AS nt
            FROM documents CROSS JOIN mx m),
        spine AS (
            SELECT bkt, CAST(SUM(nt) AS BIGINT) AS bt FROM docs
            GROUP BY bkt),
        firstocc AS (
            SELECT CAST(fd * 8 // (m.mx + 1) AS INT) AS bkt,
                   COUNT(*) AS bv
            FROM (SELECT MIN(doc_id) AS fd
                  FROM (SELECT doc_id,
                               unnest(list_distinct(list_transform(
                                   range(1, len({_TOK}) - 1),
                                   i -> array_to_string(
                                       ({_TOK})[i:i+2], ' '))))
                                   AS term
                        FROM documents)
                  GROUP BY term) CROSS JOIN mx m
            GROUP BY 1),
        nk AS (
            SELECT a.bkt, CAST(SUM(b.bt) AS BIGINT) AS n_cum
            FROM spine a JOIN spine b ON b.bkt <= a.bkt
            GROUP BY a.bkt),
        pts AS (
            SELECT a.bkt AS ckpt, a.n_cum,
                   CAST(COALESCE(SUM(v.bv), 0) AS BIGINT) AS v_cum
            FROM nk a LEFT JOIN firstocc v ON v.bkt <= a.bkt
            GROUP BY a.bkt, a.n_cum
            HAVING a.n_cum > 0 AND COALESCE(SUM(v.bv), 0) > 0),
        fit AS (
            SELECT ROUND(regr_slope(ln(v_cum), ln(n_cum)), 6) AS beta,
                   ROUND(exp(regr_intercept(ln(v_cum), ln(n_cum))), 6)
                       AS k_const,
                   ROUND(regr_r2(ln(v_cum), ln(n_cum)), 6) AS r2
            FROM pts)
        SELECT p.ckpt, p.n_cum AS n_tokens_cum, p.v_cum AS vocab_cum,
               f.beta, f.k_const, f.r2
        FROM pts p CROSS JOIN fit f
    """,
    "q82_zipf_slope": f"""
        WITH tok AS (SELECT source, unnest({_TOK}) AS term FROM documents),
        freq AS (SELECT source, term, COUNT(*) AS freq
                 FROM tok GROUP BY source, term),
        head AS (SELECT source, term, freq,
                        ROW_NUMBER() OVER (PARTITION BY source
                                           ORDER BY freq DESC, term) AS rn
                 FROM freq QUALIFY rn <= {_ZIPF_HEAD})
        SELECT source,
               COUNT(*) AS n_terms,
               ROUND(regr_slope(ln(freq), ln(rn)), 6) AS zipf_slope
        FROM head GROUP BY source
    """,
    "q109_negative_sampling": f"""
        WITH tot AS (
            SELECT GREATEST({_RING_MIN_SHARDS},
                            CAST(CEIL(COUNT(*) / {_RING_TARGET}.0)
                                 AS BIGINT)) AS nsh
            FROM documents),
        ring AS (
            SELECT doc_id,
                   (doc_id * {_RING_MULT}) % {_RING_MOD} AS h,
                   ((doc_id * {_RING_MULT}) % {_RING_MOD}) % t.nsh AS shard
            FROM documents CROSS JOIN tot t),
        pos AS (
            SELECT doc_id,
                   shard,
                   ROW_NUMBER() OVER (PARTITION BY shard
                                      ORDER BY h, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY shard) AS cnt
            FROM ring),
        slots(slot) AS (VALUES {", ".join(f"({i})" for i in range(1, _NEG_PER_DOC + 1))}),
        anchors AS (
            SELECT p.doc_id, p.shard, p.cnt, s.slot,
                   ((p.rn - 1 + s.slot) % p.cnt) + 1 AS target_rn
            FROM pos p CROSS JOIN slots s)
        SELECT a.doc_id,
               CAST(a.slot AS INT) AS slot,
               n.doc_id AS neg_id
        FROM anchors a
        JOIN pos n ON n.shard = a.shard AND n.rn = a.target_rn
        WHERE n.doc_id <> a.doc_id
    """,
    "q110_ngram_novelty": f"""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len({_TOK}) - 3),
                       i -> array_to_string(({_TOK})[i:i+4], ' ')))
                       AS shs
            FROM documents),
        e AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
        f AS (SELECT sh, MIN(doc_id) AS first_doc FROM e GROUP BY 1)
        SELECT e.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS novelty_rate
        FROM e JOIN f USING (sh)
        GROUP BY e.doc_id
    """,
    "q112_vocab_coverage": f"""
        WITH toks AS (
            SELECT source, unnest({_TOK}) AS tok FROM documents),
        vocab AS (
            SELECT tok FROM toks
            GROUP BY tok
            ORDER BY COUNT(*) DESC, tok
            LIMIT {_VOCAB_V})
        SELECT t.source,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               ROUND(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
        GROUP BY t.source
    """,
    "q114_length_buckets": f"""
        WITH binned AS (
            SELECT CAST(len({_TOK}) AS INT) AS n_tok,
                   {_LEN_CASE} AS bucket_cap
            FROM documents)
        SELECT bucket_cap,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(bucket_cap - n_tok) AS BIGINT) AS n_padding,
               ROUND(CAST(SUM(bucket_cap - n_tok) AS DOUBLE)
                     / CAST(SUM(bucket_cap) AS DOUBLE), 6) AS waste_rate
        FROM binned GROUP BY bucket_cap
    """,
    "q125_weighted_sample": f"""
        WITH keyed AS (
            SELECT doc_id, source,
                   CAST(len({_TOK}) AS BIGINT) AS w,
                   (doc_id * {_RING_MULT}) % {_RING_MOD} AS h
            FROM documents
            WHERE len({_TOK}) > 0)
        SELECT doc_id, source, w AS n_tokens,
               {_WS_KEY} AS samp_key
        FROM keyed
        ORDER BY samp_key, doc_id LIMIT {_WS_K}
    """,
    "q128_boilerplate_prefix": f"""
        WITH tok AS (SELECT doc_id, source, {_TOK} AS t FROM documents),
        fp AS (
            SELECT doc_id, source,
                   md5(array_to_string(
                       list_slice(t, 1, {_PREFIX_K}), ' ')) AS prefix_fp
            FROM tok WHERE len(t) >= {_PREFIX_K})
        SELECT prefix_fp, COUNT(*) AS n_docs,
               COUNT(DISTINCT source) AS n_sources,
               MIN(doc_id) AS representative
        FROM fp GROUP BY prefix_fp HAVING COUNT(*) >= 2
    """,
    "q132_unigram_entropy": f"""
        WITH terms AS (
            SELECT source, unnest({_TOK}) AS term FROM documents),
        counts AS (
            SELECT source, term, COUNT(*) AS c
            FROM terms WHERE term IS NOT NULL AND term <> ''
            GROUP BY source, term),
        per_src AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS nt,
                   COUNT(*) AS vocab
            FROM counts GROUP BY source),
        contrib AS (
            SELECT c.source, p.nt, p.vocab,
                   {_ENT_TERM} AS h_term
            FROM counts c JOIN per_src p ON p.source = c.source)
        SELECT source, nt AS n_tokens, vocab,
               ROUND(CAST(SUM(h_term) AS DOUBLE), 6) AS entropy,
               ROUND(CAST(SUM(h_term) AS DOUBLE)
                     / ln(CAST(vocab AS DOUBLE)), 6) AS norm_entropy
        FROM contrib
        GROUP BY source, nt, vocab
    """,
    "q133_lang_diversity": """
        WITH cells AS (
            SELECT source, lang, COUNT(*) AS c
            FROM documents GROUP BY source, lang)
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_docs,
               COUNT(*) AS n_langs,
               ROUND(1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)
                     / CAST(SUM(c) * (SUM(c) - 1) AS DOUBLE), 6)
                   AS simpson,
               ROUND(CAST(MAX(c) AS DOUBLE)
                     / CAST(SUM(c) AS DOUBLE), 6) AS majority_share
        FROM cells
        GROUP BY source
    """,
    "q151_psi_drift": f"""
        WITH sp AS (
            SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                             < '1a'
                        THEN 'heldout' ELSE 'train' END AS grp,
                   CAST(len({_TOK}) AS INT) AS n_tok
            FROM documents),
        cells AS (
            SELECT grp, {_PSI_CASE} AS bin_cap, COUNT(*) AS c
            FROM sp GROUP BY 1, 2),
        bins AS (SELECT DISTINCT bin_cap FROM cells),
        dense AS (
            SELECT bn.bin_cap,
                   CAST(COALESCE(a.c, 0) AS BIGINT) AS ca,
                   CAST(COALESCE(b.c, 0) AS BIGINT) AS cb
            FROM bins bn
            LEFT JOIN cells a ON a.bin_cap = bn.bin_cap
                             AND a.grp = 'train'
            LEFT JOIN cells b ON b.bin_cap = bn.bin_cap
                             AND b.grp = 'heldout'),
        tot AS (
            SELECT CAST(SUM(ca) + COUNT(*) AS BIGINT) AS na,
                   CAST(SUM(cb) + COUNT(*) AS BIGINT) AS nb
            FROM dense),
        scored AS (
            SELECT d.bin_cap, d.ca, d.cb,
                   ROUND(CAST(d.ca + 1 AS DOUBLE)
                         / CAST(t.na AS DOUBLE), 6) AS p_train,
                   ROUND(CAST(d.cb + 1 AS DOUBLE)
                         / CAST(t.nb AS DOUBLE), 6) AS p_heldout,
                   {_PSI_TERM.replace("na AS DOUBLE", "t.na AS DOUBLE").replace("nb AS DOUBLE", "t.nb AS DOUBLE").replace("ca + 1 AS DOUBLE", "d.ca + 1 AS DOUBLE").replace("cb + 1 AS DOUBLE", "d.cb + 1 AS DOUBLE")} AS psi_term
            FROM dense d CROSS JOIN tot t),
        total AS (SELECT ROUND(CAST(SUM(psi_term) AS DOUBLE), 6) AS psi
                  FROM scored)
        SELECT s.bin_cap, s.ca, s.cb, s.p_train, s.p_heldout,
               CAST(s.psi_term AS DOUBLE) AS psi_term, t.psi
        FROM scored s CROSS JOIN total t
    """,
    "q143_split_term_drift": f"""
        WITH sp AS (
            SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                             < '1a'
                        THEN 'heldout' ELSE 'train' END AS grp,
                   text
            FROM documents),
        terms AS (SELECT grp, unnest({_TOK}) AS term FROM sp),
        counts AS (
            SELECT grp, term, COUNT(*) AS c
            FROM terms WHERE term IS NOT NULL AND term <> ''
            GROUP BY grp, term),
        vocab AS (
            SELECT term, CAST(SUM(c) AS BIGINT) AS rt
            FROM counts GROUP BY term
            ORDER BY SUM(c) DESC, term LIMIT {_DRIFT_V}),
        grps AS (SELECT DISTINCT grp FROM counts),
        cells AS (
            SELECT v.term, v.rt, g.grp, COALESCE(c.c, 0) AS o
            FROM vocab v CROSS JOIN grps g
            LEFT JOIN counts c ON c.term = v.term AND c.grp = g.grp),
        ct AS (SELECT grp, CAST(SUM(o) AS BIGINT) AS ct
               FROM cells GROUP BY grp),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        scored AS (
            SELECT s.term, s.grp, s.o,
                   ROUND(CAST(s.rt AS DOUBLE) * CAST(x.ct AS DOUBLE)
                         / CAST(t.n AS DOUBLE), 4) AS expected,
                   {_CHI_CONTRIB.replace("rt AS DOUBLE", "s.rt AS DOUBLE").replace("ct AS DOUBLE", "x.ct AS DOUBLE").replace("n AS DOUBLE", "t.n AS DOUBLE").replace("o AS DOUBLE", "s.o AS DOUBLE")} AS contrib
            FROM cells s
            JOIN ct x ON x.grp = s.grp
            CROSS JOIN tot t),
        dims AS (SELECT CAST(SUM(contrib) AS DOUBLE) AS chi2,
                        (COUNT(DISTINCT term) - 1)
                        * (COUNT(DISTINCT grp) - 1) AS dof
                 FROM scored)
        SELECT s.term, s.grp, s.o, s.expected,
               CAST(s.contrib AS DOUBLE) AS contrib,
               d.chi2, d.dof
        FROM scored s CROSS JOIN dims d
    """,
    "q118_term_pmi": f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, term
            FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)),
        vocab AS (
            SELECT term, COUNT(*) AS df FROM toks
            GROUP BY term
            ORDER BY df DESC, term
            LIMIT {_PMI_V}),
        vt AS (SELECT t.doc_id, t.term, v.df
               FROM toks t JOIN vocab v USING (term)),
        pairs AS (
            SELECT a.term AS term_a, b.term AS term_b,
                   a.df AS df_a, b.df AS df_b,
                   COUNT(*) AS n_ab
            FROM vt a JOIN vt b
              ON b.doc_id = a.doc_id AND a.term < b.term
            GROUP BY 1, 2, 3, 4
            HAVING COUNT(*) >= {_PMI_MIN_SUPPORT}),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT term_a, term_b, n_ab, df_a, df_b,
               ROUND(ln(CAST(n_ab * n_docs AS DOUBLE)
                        / CAST(df_a * df_b AS DOUBLE)), 6) AS pmi
        FROM pairs CROSS JOIN nd
        ORDER BY pmi DESC, term_a, term_b LIMIT 20
    """,
    "q119_tfidf_terms": f"""
        WITH tf AS (
            SELECT source, term, COUNT(*) AS tf
            FROM (SELECT source, unnest({_TOK}) AS term FROM documents)
            GROUP BY source, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        nsrc AS (SELECT COUNT(DISTINCT source) AS n_src FROM documents),
        scored AS (
            SELECT t.source, t.term, t.tf, d.df,
                   ROUND(t.tf * ln(CAST(n.n_src AS DOUBLE)
                                   / CAST(d.df AS DOUBLE)), 6) AS tfidf
            FROM tf t JOIN dfreq d USING (term) CROSS JOIN nsrc n)
        SELECT source, term, tf, df, tfidf, CAST(rn AS INT) AS rank
        FROM (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY tfidf DESC, term) AS rn
              FROM scored)
        WHERE rn <= 5
    """,
    "q122_bm25_rank": f"""
        WITH dtok AS (
            SELECT doc_id, {_TOK} AS toks FROM documents),
        dlen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
                 FROM dtok),
        stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT)
                             AS sum_dl
                  FROM dlen),
        tf AS (
            SELECT doc_id, dl, term, COUNT(*) AS tf
            FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dlen)
            WHERE term IN {_BM25_TERMS!r}
            GROUP BY doc_id, dl, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        contrib AS (
            SELECT t.doc_id, t.dl, {_BM25_CONTRIB} AS c
            FROM tf t JOIN dfreq USING (term) CROSS JOIN stats)
        SELECT doc_id, dl,
               COUNT(*) AS n_terms_hit,
               CAST(SUM(c) AS DOUBLE) AS bm25
        FROM contrib GROUP BY doc_id, dl
        ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    "q158_k_anonymity": """
        WITH groups AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
                   COUNT(*) AS k
            FROM customer GROUP BY 1, 2, 3),
        hist AS (
            SELECT CASE WHEN k = 1 THEN '1'
                        WHEN k < 5 THEN '2-4'
                        WHEN k < 10 THEN '5-9'
                        ELSE '10+' END AS k_tier,
                   COUNT(*) AS n_groups,
                   CAST(SUM(k) AS BIGINT) AS n_rows
            FROM groups GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM hist)
        SELECT k_tier, n_groups, n_rows,
               ROUND(CAST(n_rows AS DOUBLE) / n_total, 6) AS row_share
        FROM hist CROSS JOIN tot
    """,
    "q160_inverted_index": f"""
        WITH ex AS (
            SELECT doc_id,
                   generate_subscripts({_TOK}, 1) - 1 AS pos,
                   unnest({_TOK}) AS term
            FROM documents)
        SELECT term, doc_id, COUNT(*) AS tf,
               string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos)
                   AS positions
        FROM ex GROUP BY term, doc_id
    """,
    "q165_mutual_information": f"""
        WITH cells AS (
            SELECT source, lang, COUNT(*) AS c
            FROM documents GROUP BY 1, 2),
        r AS (SELECT source, CAST(SUM(c) AS BIGINT) AS rc
              FROM cells GROUP BY 1),
        t AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tc
              FROM cells GROUP BY 1),
        nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        mi AS (
            SELECT COUNT(*) AS n_cells,
                   ROUND(CAST(SUM({_MI_TERM}) AS DOUBLE), 6) AS mi
            FROM cells JOIN r USING (source) JOIN t USING (lang)
            CROSS JOIN nn),
        hs AS (
            SELECT ROUND(CAST(SUM({_H_TERM}) AS DOUBLE), 6)
                       AS h_source
            FROM (SELECT rc AS mc FROM r) CROSS JOIN nn),
        hl AS (
            SELECT ROUND(CAST(SUM({_H_TERM}) AS DOUBLE), 6) AS h_lang
            FROM (SELECT tc AS mc FROM t) CROSS JOIN nn)
        SELECT n_cells, mi, h_source, h_lang, {_NMI} AS nmi
        FROM mi CROSS JOIN hs CROSS JOIN hl
    """,
    "q166_bpe_merges": _BPE_CTES + "\n" + _BPE_FINAL,
    "q171_scaling_subsets": f"""
        WITH base AS (
            SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2,
                   len({_TOK}) AS nt
            FROM documents),
        agg AS (
            SELECT
                SUM(CASE WHEN h2 < '1a' THEN 1 ELSE 0 END) AS d_p10,
                SUM(CASE WHEN h2 < '1a' THEN nt ELSE 0 END) AS t_p10,
                SUM(CASE WHEN h2 < '40' THEN 1 ELSE 0 END) AS d_p25,
                SUM(CASE WHEN h2 < '40' THEN nt ELSE 0 END) AS t_p25,
                SUM(CASE WHEN h2 < '80' THEN 1 ELSE 0 END) AS d_p50,
                SUM(CASE WHEN h2 < '80' THEN nt ELSE 0 END) AS t_p50,
                COUNT(*) AS d_p100,
                SUM(nt) AS t_p100
            FROM base)
        SELECT level, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(CAST(n_tokens AS DOUBLE) / t_p100, 6)
                   AS token_share
        FROM (
            SELECT 'p10' AS level, d_p10 AS n_docs, t_p10 AS n_tokens,
                   t_p100 FROM agg
            UNION ALL
            SELECT 'p25', d_p25, t_p25, t_p100 FROM agg
            UNION ALL
            SELECT 'p50', d_p50, t_p50, t_p100 FROM agg
            UNION ALL
            SELECT 'p100', d_p100, t_p100, t_p100 FROM agg) u
    """,
}
