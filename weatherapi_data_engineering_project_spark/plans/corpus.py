"""Corpus-analysis queries round 4b: span-level duplication, semantic
dedup, diverse re-ranking, and graph centrality.

Engine extensions beyond the reference (SURVEY.md §2.I), continuing the
training-data surface of plans/llm.py and plans/curation.py with the
operators a 100 TB curation run applies AFTER document-level dedup:
find text duplicated at the SPAN level (whole-doc dedup misses
boilerplate repeated inside otherwise-distinct pages), deduplicate by
embedding SEMANTICS within k-means clusters (SemDeDup shape), re-rank
retrieval candidates for DIVERSITY (greedy MMR), and rank nodes of a
derived purchase graph by fixed-round PageRank.

Same contract as every other plan module: exact ANSI-SQL oracle twins
with identical column aliases; decimal-exact aggregation wherever a
float is observable cross-engine; iterative algorithms run a FIXED
number of rounds so the oracle unrolls them into CTEs (the q60/q73
technique; q47's clustering graduated to run-to-fixpoint with a
recursive-CTE closure oracle in round 8).

Scale notes (100 TB story):
- q86 shuffles 32-char md5 span hashes, never text; the span→dup join
  is AQE-sized (the duplicated-hash set is data-dependent and must not
  be hard-broadcast); per-doc and per-source rollups are partial aggs.
- q87 bounds the quadratic by construction — pairwise cosine runs only
  WITHIN a k-means cluster (SemDeDup's core idea); production would
  additionally cap/re-split giant clusters. The trainer state is
  k × dim driver scalars (the kmeans_centroids contract).
- q88's candidate pool is top-N (N=16) — the greedy MMR loop runs on
  driver-bounded state the same way centroid state does; pool
  selection itself is the distributed TakeOrderedAndProject.
- q89 is one partial-agg shuffle per PageRank round; ranks ride the
  edges as doubles (row-local IEEE math, identical on any engine) and
  only the per-destination SUM accumulates in decimal, which is what
  makes a 1000-executor run hash-match the single-node oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import graph as G
from ..operators import similarity as SIM
from ..schemas import load_table
from ._buckets import bucket_of, bucket_offsets, quantile_bounds
from .llm import _IVF_LOG2_NLIST_SQL, _KM_CTES, _SCORE

_TOK = "string_split_regex(lower(trim(text)), '\\s+')"

# Span length for q86: 8-token windows. Long enough that natural
# repetition is negligible (8-gram collisions in independent text are
# ~vocab^-8), short enough to catch templated boilerplate.
_SPAN_K = 8


def q86_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication audit: slide an 8-token window over every
    document, hash each window, and mark positions whose span text
    occurs in >= 2 DISTINCT documents — the (shingle-granularity)
    ExactSubstr signal from "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022). Document-level dedup (q23/q25)
    misses boilerplate repeated inside otherwise-distinct pages; this
    measures it per source.

    Plan shape: tokenize once behind its own projection (the
    CollapseProject guard from operators/dedup.py), positional md5
    spans via a codegen'd higher-order transform, explode_outer (the
    InferFiltersFromGenerate guard), one partial-agg shuffle on the
    16-byte hash to find cross-doc spans, one AQE-sized join back, then
    doc- and source-level partial-agg rollups. Text never shuffles.
    """
    return dup_span_stats(load_table(spark, sf_dir, "documents"))


def dup_span_stats(d: DataFrame, k: int = _SPAN_K) -> DataFrame:
    """Core of q86 over any (doc_id, text, source) frame."""
    from ..caching import persist_tracked

    toks = d.select("doc_id", "source", TX.tokens("text").alias("t"))
    n = F.size("t")
    span_arr = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # persisted (r13, guide §2.4 multi-consumer): BOTH the dup-hash agg
    # and the join back consume this frame — unpersisted, the tokenize +
    # per-window md5 pass (the query's dominant per-row work) runs twice
    spans = persist_tracked(
        toks.select("doc_id", "source", span_arr.alias("sp"))
        .select("doc_id", "source", F.explode_outer("sp").alias("h"))
        .filter(F.col("h").isNotNull())
    )
    # cross-doc duplicated span hashes; data-dependent size -> no
    # broadcast hint, AQE decides from runtime stats.
    # "≥ 2 distinct docs" is exactly min(doc_id) != max(doc_id) — a
    # plain partial-agg pair instead of count_distinct's two-shuffle
    # dedup plan (r13, guide §2.3 aggregate-before-shuffle; the span
    # set is provably identical)
    dup = (
        spans.groupBy("h")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("h", F.lit(1).alias("isdup"))
    )
    per_doc = (
        spans.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.count(F.lit(1)).alias("n_spans"),
            F.count("isdup").alias("dup_spans"),
        )
    )
    per_src = per_doc.groupBy("source").agg(
        F.sum((F.col("dup_spans") > 0).cast("long")).alias("n_docs_with_dup"),
        F.sum("n_spans").alias("total_spans"),
        F.sum("dup_spans").alias("dup_spans"),
    )
    docs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    joined = docs.join(per_src, "source", "left")
    total = F.coalesce(F.col("total_spans"), F.lit(0))
    dupc = F.coalesce(F.col("dup_spans"), F.lit(0))
    return joined.select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_docs_with_dup"), F.lit(0)).alias("n_docs_with_dup"),
        total.alias("total_spans"),
        dupc.alias("dup_spans"),
        F.when(total == 0, F.lit(0.0))
        .otherwise(F.round(dupc / total, 6))
        .alias("dup_span_ratio"),
    )


def q87_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: q60's fixed-round Lloyd
    quantizer (identical params, so the oracle reuses the unrolled
    _KM_CTES verbatim), within-cluster-cell pairwise decimal cosine,
    and the rank-free drop rule (drop x iff exists y < x in the same
    cell with cosine >= 0.4). Clusters over 4096 rows split into hashed
    sub-cells (giant-cluster guard — inert at test scales, stated in
    the oracle so both engines agree whenever it fires). Per-cluster
    accounting output."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(e, n_iters=3, threshold=0.4)


def q88_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR diverse re-rank for query vec_id=0: top-16 relevance
    pool, 5 greedy rounds of lam=0.7 relevance vs mu=0.3 redundancy,
    unrolled into one declarative plan (see operators/similarity.py::
    mmr_rerank). The oracle unrolls the same 5 rounds as CTEs."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.mmr_rerank(
        e, query_id=0, pool_k=16, select_k=5, lam=0.7, mu=0.3
    )


def _mmr_round(r: int) -> str:
    """One unrolled greedy-MMR round (q88 oracle): candidates are the
    pool minus the selected set; each keeps its max similarity to any
    selected item; the pick maximizes ROUND(0.7*rel - 0.3*mx, 6) with a
    vid tiebreak. Both engines round before ranking, so orderings are
    engine-identical."""
    p = r - 1
    return f"""
        cand{r} AS (SELECT c.vid, c.rel, MAX(s.sim) AS mx
                    FROM pool c
                    JOIN psim s ON s.a = c.vid
                    JOIN sel{p} t ON t.vid = s.b
                    WHERE c.vid NOT IN (SELECT vid FROM sel{p})
                    GROUP BY c.vid, c.rel),
        pick{r} AS (SELECT vid, rel, ROUND(0.7 * rel - 0.3 * mx, 6) AS mmr
                    FROM cand{r} ORDER BY mmr DESC, vid LIMIT 1),
        sel{r} AS (SELECT vid FROM sel{p}
                   UNION ALL SELECT vid FROM pick{r})"""


def q89_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round PageRank (3 rounds, d=0.85) over the bidirectional
    customer-supplier trading graph (distinct lineitem x orders pairs,
    each undirected edge emitted in both directions, so no dangling
    sinks). Top-10 nodes by the round-3 rank, which after the
    per-round float32 snap is bit-identical across engines (see
    operators/graph.py). Output: (rn, node, rank) rounded to 10dp."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # r12 optimization (guide §2.3 "narrower types"): the distinct and
    # every per-round shuffle used to key on concatenated STRINGS
    # ("c123"/"s45"). Distinct the integer key pair instead and run the
    # whole rank iteration on packed LONG node ids (custkey*2 /
    # suppkey*2+1 — injective, side recoverable from the low bit); the
    # display strings are built only on the final ≤n-node frame, and
    # the top-10 tiebreak still orders by the STRING id, so output is
    # bit-identical (rank values depend only on graph structure, which
    # a key bijection preserves). Measured 5.9 → 4.5s at sf0.1.
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .distinct()
        .select(
            (F.col("ck") * 2).alias("c"), (F.col("sk") * 2 + 1).alias("s")
        )
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    ranks = G.pagerank_fixed(edges, n_rounds=3, damping=0.85)
    node_str = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(F.col("node"), 1).cast("string"),
    )
    top = (
        ranks.select(node_str.alias("node"), F.round("rank", 10).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(10)
    )
    from pyspark.sql.window import Window

    return top.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("rank").desc(), "node")
        ),
    ).select("rn", "node", "rank")


def _pr_round(i: int) -> str:
    """One unrolled PageRank round (q89 oracle): row-local double
    contribution, decimal per-destination sum, float32 snap (see
    operators/graph.py for the cross-engine rationale)."""
    p = i - 1
    return f"""
        r{i} AS (SELECT e.dst AS node,
                        CAST(CAST((1.0 - 0.85) / nn.n
                                  + 0.85 * CAST(SUM(CAST(r.rank / e.outdeg
                                        AS DECIMAL(38,25))) AS DOUBLE)
                             AS REAL) AS DOUBLE) AS rank
                 FROM ed e JOIN r{p} r ON r.node = e.src, nn
                 GROUP BY e.dst, nn.n)"""


def q91_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a logistic scorer over the q51
    feature set with PLAN-LITERAL weights — the fastText/classifier
    quality-filter shape (CCNet/LLaMA pipelines) with the model inlined
    into the projection. A real learned model would either export to
    this same linear form or run as an Arrow-batched Pandas UDF; the
    Spark-side plumbing (feature extraction, scoring, thresholding) is
    identical and fully codegen'd here — ZERO shuffle, scales with scan
    splits.

    z is written in one fixed left-associated chain and both engines
    round the sigmoid to 6dp before the keep threshold, so the
    keep/drop decision is engine-identical (ln/exp differ in the last
    ulp across libms; ROUND absorbs it — the q82 convention)."""
    d = load_table(spark, sf_dir, "documents")
    prob = _quality_prob()
    return d.select(
        "doc_id",
        prob.alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    )


def _quality_prob(text_col: str = "text"):
    """The q91 logistic scorer as a reusable column (shared with the
    q96 composite so the model cannot drift between them)."""
    toks = TX.tokens(text_col)
    n_tok = F.size(toks)
    punct_ratio = TX.punct_count(text_col).cast("double") / F.length(text_col)
    stop_ratio = TX.stopword_count(toks).cast("double") / n_tok
    avg_len = (
        F.length(F.regexp_replace(text_col, r"\s+", "")).cast("double")
        / n_tok
    )
    z = (
        F.lit(-1.2)
        + F.lit(0.35) * F.log(F.lit(1.0) + n_tok)
        - F.lit(8.0) * punct_ratio
        + F.lit(6.0) * stop_ratio
        - F.lit(0.15) * avg_len
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def q92_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per source: pieces/word and chars/piece
    under the BPE-ish regex pre-tokenizer (q61's subword counter rolled
    up per domain) — the standard signal for how expensive each corpus
    domain is to tokenize. All counts are exact integers summed
    map-side; the two ratios divide once per source."""
    from .extensions import _BPE_PATTERN

    d = load_table(spark, sf_dir, "documents")
    pieces = F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0))
    words = F.size(TX.tokens("text"))
    per = d.select(
        "source",
        F.length("text").alias("nc"),
        pieces.alias("np"),
        words.alias("nw"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nc").alias("total_chars"),
        F.sum("np").alias("total_pieces"),
        F.sum("nw").alias("total_words"),
    )
    return per.select(
        "source",
        "n_docs",
        "total_chars",
        "total_pieces",
        "total_words",
        F.round(F.col("total_pieces") / F.col("total_words"), 6).alias(
            "pieces_per_word"
        ),
        F.round(F.col("total_chars") / F.col("total_pieces"), 6).alias(
            "chars_per_piece"
        ),
    )


def _split_of(c):
    """The q79 deterministic split rule applied to an id column — first
    md5 byte carves <5% test / ~5% val / rest train, reproducible under
    any partitioning."""
    h2 = F.substring(F.md5(c.cast("string")), 1, 2)
    return (
        F.when(h2 < "0d", F.lit("test"))
        .when(h2 < "1a", F.lit("val"))
        .otherwise(F.lit("train"))
    )


def q93_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train/test contamination audit: q63 catches shingle
    overlap, this catches paraphrase-level leakage — a test-split
    vector with a train-split neighbor at cosine >= 0.35. Composes two
    verified components: the q29 banded sign-LSH near-dup pairs (the
    candidates-only quadratic guard) and the q79 deterministic split
    rule, applied to vec_id. Output: one row per contaminated test
    vector with its train-neighbor count and worst (max) cosine.

    Scale: identical to q29 (signatures shuffle, verifiers see
    candidate pairs only) plus a projection — the split labels are
    row-local md5 arithmetic, never a join against a split table.
    The LSH band width is CORPUS-DERIVED (similarity.scaled_band_bits;
    oracle twin plans/llm.signlsh_pairs_sql_scaled): BENCH_SCALE_r09
    measured the old fixed band_bits=4 at 20.5× wall for 10× vectors
    (quadratic candidates), while the derived width (8 bits at 20k
    vectors) ran ~linear — q286 keeps the pinned-8 comparator, q287
    prices the recall, q289 grids the trade."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.cosine_neardup_pairs(e, threshold=0.35)
    p = pairs.select(
        "id1", "id2", "cosine",
        _split_of(F.col("id1")).alias("s1"),
        _split_of(F.col("id2")).alias("s2"),
    )
    cross = p.filter(
        ((F.col("s1") == "test") & (F.col("s2") == "train"))
        | ((F.col("s1") == "train") & (F.col("s2") == "test"))
    )
    t = cross.select(
        F.when(F.col("s1") == "test", F.col("id1"))
        .otherwise(F.col("id2"))
        .alias("test_id"),
        "cosine",
    )
    return t.groupBy("test_id").agg(
        F.count(F.lit(1)).alias("n_train_neighbors"),
        F.max("cosine").alias("max_cosine"),
    )


def q286_scaled_lsh_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q93 at the CORPUS-SCALED LSH width: the same semantic
    train/test contamination audit, candidate-generated through 4
    bands of 8 bits (256 buckets/band) instead of q93's 4 bits (16).
    BENCH_SCALE_r09 measured why this knob exists: fixed-width bands
    keep a constant bucket count, so candidates per bucket — and the
    verify stage's work — grow QUADRATICALLY with the corpus (q93 ran
    20.5× the wall at 10× the vectors; the same computation at
    band_bits=8 ran ~linear). Production sizing raises band_bits with
    log(n); this query registers that configuration as a first-class,
    hash-verified citizen rather than a comment. Recall drops for
    borderline pairs (the standard LSH amplification trade — a pair
    must now agree on 8 consecutive hyperplane signs in some band);
    the oracle shares the EXACT widened banding
    (plans/llm.signlsh_pairs_sql), so the output is still bit-compared,
    not bounded."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.cosine_neardup_pairs(
        e, threshold=0.35, n_bands=4, band_bits=8
    )
    p = pairs.select(
        "id1", "id2", "cosine",
        _split_of(F.col("id1")).alias("s1"),
        _split_of(F.col("id2")).alias("s2"),
    )
    cross = p.filter(
        ((F.col("s1") == "test") & (F.col("s2") == "train"))
        | ((F.col("s1") == "train") & (F.col("s2") == "test"))
    )
    t = cross.select(
        F.when(F.col("s1") == "test", F.col("id1"))
        .otherwise(F.col("id2"))
        .alias("test_id"),
        "cosine",
    )
    return t.groupBy("test_id").agg(
        F.count(F.lit(1)).alias("n_train_neighbors"),
        F.max("cosine").alias("max_cosine"),
    )


def q287_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the two sign-LSH widths (q93's 4-bit bands vs
    q286's corpus-scaled 8-bit bands) against exact brute-force truth —
    the measurement that makes the q286 recall/cost trade a VERIFIED
    number instead of a docstring claim, and the eval every LSH
    deployment runs before widening bands at scale (q103's pattern
    applied to pair recall instead of top-k).

    Truth: probe pairs (smaller id < 64) scored exactly — broadcast
    probes × spread corpus, hoisted norms, the q103 brute shape, kept
    at cosine >= 0.35 and bucketed into similarity bands (0.35-0.5 /
    0.5-0.7 / >=0.7 on the ROUND-6 cosine, engine-exact). Each LSH
    config's verified pair set is LEFT-JOINed onto truth; output per
    (config, band): n_true, n_found, recall. Expect recall to RISE
    with similarity and FALL with band width — amplification's
    signature — and the 4-bit config to dominate found-counts while
    q286's measured 10x wall advantage is the price it buys.

    Scale: truth is probe-bounded (64 x N, never N^2); the LSH sides
    are the verified candidate plans; one broadcast join each."""
    from pyspark.sql.window import Window  # noqa: F401 — q103 symmetry

    from ..caching import persist_tracked
    from ..operators.similarity import (
        _PREFILTER_EPS,
        _dot_arrays,
        _dot_arrays_fast,
        _ensure_parallelism,
        _norm2_array,
        _score,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") < 64).select(
            F.col("vec_id").alias("id1"),
            F.col("embedding").alias("qvec"),
            _norm2_array(F.col("embedding")).alias("qn2"),
        )
    )
    cv = _ensure_parallelism(e).select(
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("cvec"),
        _norm2_array(F.col("embedding")).alias("cn2"),
    )
    cos = _score(
        _dot_arrays(F.col("qvec"), F.col("cvec")),
        F.col("qn2"),
        F.col("cn2"),
    )
    # double prefilter + exact rescore (cosine_neardup_pairs'
    # convention, r12): the interpreted decimal fold runs only on the
    # ~threshold survivors, not all 64 × N probe pairs; the 1e-6 slack
    # dwarfs the ~1e-15 double-vs-decimal gap AND the round-6 snap, so
    # no true pair is lost and results are bit-identical
    approx = _dot_arrays_fast(F.col("qvec"), F.col("cvec")) / (
        F.sqrt(F.col("qn2").cast("double"))
        * F.sqrt(F.col("cn2").cast("double"))
    )
    band = (
        F.when(F.col("cosine") >= 0.7, F.lit("high_0.70+"))
        .when(F.col("cosine") >= 0.5, F.lit("mid_0.50"))
        .otherwise(F.lit("low_0.35"))
    )
    truth = persist_tracked(
        qv.crossJoin(cv)
        .filter(F.col("id1") < F.col("id2"))
        .filter(approx >= 0.35 - _PREFILTER_EPS)
        .select("id1", "id2", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .select("id1", "id2", band.alias("cos_band"))
    )
    # one projection at the wider config; the 32-bit bucket's prefix IS
    # the 16-bit config's bucket (the q289 shared-projection pattern)
    shared_buckets = persist_tracked(SIM.signlsh_buckets(e, 4 * 8))
    outs = []
    for bits in (4, 8):
        cands = SIM.signlsh_band_candidates(
            e, n_bands=4, band_bits=bits, buckets=shared_buckets
        )
        found = (
            SIM.cosine_neardup_pairs(
                e, threshold=0.35, n_bands=4, band_bits=bits,
                candidates=cands,
            )
            .filter(F.col("id1") < 64)
            .select("id1", "id2", F.lit(1).alias("hit"))
        )
        outs.append(
            truth.join(found, ["id1", "id2"], "left")
            .groupBy("cos_band")
            .agg(
                F.count(F.lit(1)).alias("n_true"),
                F.count("hit").alias("n_found"),
            )
            .select(
                F.lit(f"bands4x{bits}").alias("config"),
                "cos_band",
                "n_true",
                "n_found",
                F.round(F.col("n_found") / F.col("n_true"), 6).alias(
                    "recall"
                ),
            )
        )
    return outs[0].unionByName(outs[1])


def q289_lsh_sizing_tuner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH width AUTO-TUNER: the engine-computed version of the
    scaled_band_bits sizing rule (VERDICT r09 #6; grid derived-centered
    per VERDICT r10 #4). The grid TRACKS the derived width — 4 bands ×
    {max(2, bb−2), bb, bb+2} bits where bb =
    scaled_band_bits(corpus_row_count) — so the tuner stays informative
    at ANY corpus size (a pinned {4,6,8} grid is blind at 2·10⁹ rows
    where the rule gives 24). For each width it MEASURES both sides of
    the LSH trade on this corpus — candidate mass (n_candidates, the
    cost the verifier pays; the term that blew up 20.5× in
    BENCH_SCALE_r09's fixed-width q93) and probe-bounded recall vs
    exact brute-force truth (q287's construction) — then marks the
    chosen config: the cheapest width whose recall clears the 0.45
    floor (pure integer compare, 20·n_found ≥ 9·n_true), falling back
    to max-recall when none clears. Cost is compared in integer log2
    BUCKETS (LENGTH(bin(n_candidates)) — engine-exact on both sides):
    sub-2× candidate-mass differences are measurement noise next to a
    recall step, so bucket ties break toward the NARROWER width (the
    recall-margin preference the production rule encodes). One row per
    config with derived ∈ {0,1} marking the rule's own width and
    chosen ∈ {0,1} the measured winner; chosen == derived at sf0.01 is
    the rule's self-consistency check (pinned in tests).

    Scale: truth is probe-bounded (64 × N, never N²); each grid cell
    is the verified candidate plan plus one count — the whole tuner
    costs ~|grid| × the audit it replaces, and production runs it on a
    sample once per corpus, not per query. The winner is a
    TakeOrderedAndProject over 3 rows joined back broadcast — no
    single-partition window."""
    from ..caching import persist_tracked
    from ..operators.similarity import (
        _PREFILTER_EPS,
        _dot_arrays,
        _dot_arrays_fast,
        _ensure_parallelism,
        _norm2_array,
        _score,
    )

    from ..operators.similarity import corpus_row_count, scaled_band_bits

    e = load_table(spark, sf_dir, "embeddings")
    bb = scaled_band_bits(corpus_row_count(e))
    grid_bits = sorted({max(2, bb - 2), bb, bb + 2})
    qv = F.broadcast(
        e.filter(F.col("vec_id") < 64).select(
            F.col("vec_id").alias("id1"),
            F.col("embedding").alias("qvec"),
            _norm2_array(F.col("embedding")).alias("qn2"),
        )
    )
    cv = _ensure_parallelism(e).select(
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("cvec"),
        _norm2_array(F.col("embedding")).alias("cn2"),
    )
    cos = _score(
        _dot_arrays(F.col("qvec"), F.col("cvec")),
        F.col("qn2"),
        F.col("cn2"),
    )
    # double prefilter + exact rescore (cosine_neardup_pairs'
    # convention, r12): decimal folds only on ~threshold survivors —
    # bit-identical truth at a fraction of the 64 × N decimal cost
    approx = _dot_arrays_fast(F.col("qvec"), F.col("cvec")) / (
        F.sqrt(F.col("qn2").cast("double"))
        * F.sqrt(F.col("cn2").cast("double"))
    )
    truth = persist_tracked(
        qv.crossJoin(cv)
        .filter(F.col("id1") < F.col("id2"))
        .filter(approx >= 0.35 - _PREFILTER_EPS)
        .select("id1", "id2", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .select("id1", "id2")
    )
    # ONE projection at the widest config, sliced per cell (hyperplane
    # bits are index-stable, so the wide bucket's prefix IS each
    # narrower config's bucket) — saves |grid|−1 full corpus passes
    shared_buckets = persist_tracked(
        SIM.signlsh_buckets(e, 4 * grid_bits[-1])
    )
    rows = []
    for bits in grid_bits:
        # one banding per config: the persisted candidate frame feeds
        # both the cost count and the verifier (candidates= passthrough)
        cands = persist_tracked(
            SIM.signlsh_band_candidates(
                e, n_bands=4, band_bits=bits, buckets=shared_buckets
            )
        )
        n_cand = cands.distinct().agg(
            F.count(F.lit(1)).alias("n_candidates")
        )
        found = (
            SIM.cosine_neardup_pairs(
                e, threshold=0.35, n_bands=4, band_bits=bits,
                candidates=cands,
            )
            .filter(F.col("id1") < 64)
            .select("id1", "id2", F.lit(1).alias("hit"))
        )
        counts = (
            truth.join(found, ["id1", "id2"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_true"),
                F.count("hit").alias("n_found"),
            )
        )
        rows.append(
            counts.crossJoin(F.broadcast(n_cand)).select(
                F.lit(f"bands4x{bits}").alias("config"),
                F.lit(bits).alias("band_bits"),
                F.lit(1 if bits == bb else 0).alias("derived"),
                "n_candidates",
                "n_true",
                "n_found",
                F.round(F.col("n_found") / F.col("n_true"), 6).alias(
                    "recall"
                ),
            )
        )
    from functools import reduce as _reduce

    grid = _reduce(lambda a, b: a.unionByName(b), rows).select(
        "*",
        F.when(20 * F.col("n_found") >= 9 * F.col("n_true"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("meets_floor"),
    )
    grid = persist_tracked(grid)
    # cheapest log2-cost-bucket clearing the floor (bucket ties break
    # to the narrower width — recall margin); max recall if none does.
    # The mixed sort key is safe: rows only compare on it within the
    # same meets_floor value (cost bucket asc among passers, recall
    # desc — as -recall asc — among failers), and recall is
    # pre-rounded / the bucket integer, so the order itself is
    # engine-exact (q197 argmin convention).
    winner = (
        grid.orderBy(
            F.col("meets_floor").desc(),
            F.when(
                F.col("meets_floor") == 1,
                F.length(F.bin(F.col("n_candidates"))).cast("double"),
            ).otherwise(-F.col("recall")),
            F.col("band_bits"),
        )
        .limit(1)
        .select(F.col("config").alias("win_config"))
    )
    return grid.join(
        F.broadcast(winner),
        grid["config"] == F.col("win_config"),
        "left",
    ).select(
        "config",
        "band_bits",
        "derived",
        "n_candidates",
        "n_true",
        "n_found",
        "recall",
        "meets_floor",
        F.when(F.col("win_config").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("chosen"),
    )


def q297_ivf_sizing_tuner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF geometry AUTO-TUNER — q289's recipe applied to the round-12
    corpus-derived nlist/n_probe rule (VERDICT r11 #1): the grid TRACKS
    the derived list count — {max(16, nlist0/2), nlist0, 2·nlist0}
    with nlist0 = scaled_ivf_nlist(corpus_row_count), each cell paired
    with ITS derived probe count scaled_ivf_nprobe(nlist) — so the
    tuner stays informative at any corpus size (at the 16-list floor
    the halved cell collapses into the floor and the grid is
    {16, 32}). For each cell it MEASURES both sides of the IVF trade
    on this corpus: probe candidate volume (n_candidates — the rows
    the exact re-rank pays, the term that is n/8 per query FOREVER
    under the old pinned 16/2) and recall@3 vs exact brute-force truth
    for the probe query set (vec_id < 64). chosen = the cheapest
    integer-log2 candidate bucket whose recall clears the 0.9 floor
    (20·n_found ≥ 18·n_true — the ANN recall class, vs q289's 0.45
    pair-recall floor), bucket ties to the SMALLER nlist (larger lists
    probed = more recall margin), max recall if none clears.

    ONE scoring pass trick (the q289/q290 shared-projection pattern,
    adapted from prefix-stable bits to prefix-nested centroid sets):
    the deterministic quantizer's centroid set at nlist is ids <
    nlist, so every cell's centroids are a PREFIX of the widest
    cell's. _probe_lists runs once at max(grid) with the full sorted
    centroid ranking per vector; each cell filters its prefix (cid <
    nlist — array filter keeps score order) and slices its own
    n_probe. |grid|−1 corpus×centroid scoring passes saved at any
    scale; results bit-identical to per-cell passes because the
    filtered array IS the cell's sorted ranking.

    Scale: truth is probe-bounded (64 × N exact scores, never N²);
    each cell adds one candidate count + a 64-query exact re-rank over
    probed lists. Measured honesty note: at sf0.01 NEITHER floor cell
    clears 0.9 with the deterministic (unrefined) quantizer — recall
    0.52 at 16/2, 0.65 at 32/3 — so chosen falls to max-recall
    (ivf32x3), one step wider than derived; that gap is exactly the
    information the tuner exists to surface (quantizer quality, priced
    separately by q103/q60's Lloyd refinement), and the fallback
    mechanics are pinned in tests instead of a chosen==derived
    self-consistency that would misstate the data."""
    from functools import reduce as _reduce

    from ..caching import persist_tracked
    from ..operators.similarity import (
        _ensure_parallelism,
        _norm2_array,
        _probe_lists,
        corpus_row_count,
        exact_brute_topk,
        scaled_ivf_nlist,
        scaled_ivf_nprobe,
    )

    e = load_table(spark, sf_dir, "embeddings")
    nlist0 = scaled_ivf_nlist(corpus_row_count(e))
    grid_nlist = sorted({max(16, nlist0 // 2), nlist0, 2 * nlist0})
    max_nlist = grid_nlist[-1]

    # exact brute-force truth: top-3 per probe query (self excluded),
    # via similarity.exact_brute_topk's lossless double top-k
    # prefilter — decimal folds only on rows within 2e-6 of each
    # query's 3rd-best double (proof + measurement in the helper's
    # docstring)
    qv = e.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        _norm2_array(F.col("embedding")).alias("qn2"),
    )
    cv = _ensure_parallelism(e).select(
        F.col("vec_id").alias("cid2"),
        F.col("embedding").alias("cvec"),
        _norm2_array(F.col("embedding")).alias("cn2"),
    )
    truth = persist_tracked(
        exact_brute_topk(qv, cv, 3, "qid", "cid2").select("qid", "cid2")
    )

    # ONE widest-config quantizer pass: full sorted centroid ranking
    cent_max = e.filter(F.col("vec_id") < max_nlist).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    quant_full = persist_tracked(
        # double probe ranking — ivf_topk's r12 production default;
        # the oracle ranks with the identical formula (q60 precedent)
        _probe_lists(e, cent_max, max_nlist, False, "vec_id", "embedding")
    )

    rows = []
    for nlist in grid_nlist:
        np_ = scaled_ivf_nprobe(nlist)
        cell_quant = quant_full.select(
            "vid",
            F.slice(
                F.filter(
                    "probe_cids", lambda c: c < F.lit(nlist)
                ),
                1,
                np_,
            ).alias("probe_cids"),
        )
        # candidate volume the cell's exact re-rank pays: each probe
        # query's probed lists, self excluded (ivf_topk's cands shape)
        assign = cell_quant.select(
            F.col("vid").alias("cand_id"),
            F.element_at("probe_cids", 1).alias("cid"),
        )
        probes = cell_quant.filter(F.col("vid") < 64).select(
            F.col("vid").alias("qid"), F.explode("probe_cids").alias("cid")
        )
        n_cand = (
            probes.join(assign, on="cid")
            .filter(F.col("qid") != F.col("cand_id"))
            .agg(F.count(F.lit(1)).alias("n_candidates"))
        )
        ivf = SIM.ivf_topk(e, k=3, max_query_id=64, quant=cell_quant)
        found = ivf.select(
            F.col("query_id").alias("qid"),
            F.col("vec_id").alias("cid2"),
            F.lit(1).alias("hit"),
        )
        counts = truth.join(found, ["qid", "cid2"], "left").agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("hit").alias("n_found"),
        )
        rows.append(
            counts.crossJoin(F.broadcast(n_cand)).select(
                F.lit(f"ivf{nlist}x{np_}").alias("config"),
                F.lit(nlist).alias("nlist"),
                F.lit(np_).alias("n_probe"),
                F.lit(1 if nlist == nlist0 else 0).alias("derived"),
                "n_candidates",
                "n_true",
                "n_found",
                F.round(F.col("n_found") / F.col("n_true"), 6).alias(
                    "recall"
                ),
            )
        )
    grid = _reduce(lambda a, b: a.unionByName(b), rows).select(
        "*",
        F.when(20 * F.col("n_found") >= 18 * F.col("n_true"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("meets_floor"),
    )
    grid = persist_tracked(grid)
    winner = (
        grid.orderBy(
            F.col("meets_floor").desc(),
            F.when(
                F.col("meets_floor") == 1,
                F.length(F.bin(F.col("n_candidates"))).cast("double"),
            ).otherwise(-F.col("recall")),
            F.col("nlist"),
        )
        .limit(1)
        .select(F.col("config").alias("win_config"))
    )
    return grid.join(
        F.broadcast(winner),
        grid["config"] == F.col("win_config"),
        "left",
    ).select(
        "config",
        "nlist",
        "n_probe",
        "derived",
        "n_candidates",
        "n_true",
        "n_found",
        "recall",
        "meets_floor",
        F.when(F.col("win_config").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("chosen"),
    )


def q94_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q86's ACTIONABLE twin (q72 is to q47 what this is to q86):
    actually remove the cross-document duplicated spans. A token is
    scrubbed iff it is covered by any flagged 8-token window of its
    document; the retained tokens are re-joined and fingerprinted.
    Output per affected doc: before/after token counts + the scrubbed
    text's md5 (docs with nothing to scrub are excluded — the rewrite
    set, not the whole corpus).

    Plan shape: the q86 pipeline up to the flagged (doc_id, pos) set,
    then ONE aggregation collecting each affected doc's flagged
    positions into an array and a row-local higher-order filter over
    the token array (coverage test per token against the tiny per-doc
    position list) — the corpus text itself never shuffles; only
    affected docs re-materialize."""
    from ..caching import persist_tracked

    d = load_table(spark, sf_dir, "documents")
    k = _SPAN_K
    toks = d.select("doc_id", TX.tokens("text").alias("t"))
    n = F.size("t")
    span_arr = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # persisted + min/max dup test (r13): same rewrite as
    # dup_span_stats — the span frame feeds both the dup agg and the
    # semi join, and "≥ 2 distinct docs" ⇔ min(doc_id) != max(doc_id)
    spans = persist_tracked(
        toks.select("doc_id", F.posexplode_outer(span_arr).alias("pos0", "h"))
        .filter(F.col("h").isNotNull())
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    )
    dup = (
        spans.groupBy("h")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("h")
    )
    flagged = spans.join(dup, "h", "left_semi").groupBy("doc_id").agg(
        F.sort_array(F.collect_set("pos")).alias("ps")
    )
    scrubbed = flagged.join(toks, "doc_id").select(
        "doc_id",
        F.size("t").alias("n_tokens_before"),
        F.filter(
            F.col("t"),
            lambda tok, i: ~F.exists(
                F.col("ps"),
                lambda p: (p <= i + 1) & (i + 1 <= p + (k - 1)),
            ),
        ).alias("kept"),
    )
    return scrubbed.select(
        "doc_id",
        "n_tokens_before",
        F.size("kept").alias("n_tokens_after"),
        F.md5(F.concat_ws(" ", F.col("kept"))).alias("scrubbed_fp"),
    )


def q95_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quantiles (P50/P90/P99 of lineitem extendedprice) —
    the exact twin of q62's GK sketches, computed distributed with NO
    single-task sort AND with bucket pruning: an approxQuantile stats
    pass carves ~32 value buckets, the per-bucket count vector (a ≤33
    row collect) locates which buckets contain the target ranks, and
    ONLY those buckets are re-scanned and locally ranked — the exact
    answer touches ~3/32 of the data after the stats pass. Boundary
    choice cannot affect the answer (ranks are exact whatever the
    buckets are; the q49/q65 technique).

    Quantile contract: type-1 (k-th smallest, k = ceil(q*N) computed in
    INTEGER arithmetic — 0.9*N in binary floats can straddle a whole
    number), ties broken by (l_orderkey, l_linenumber) so both engines
    rank identically."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_extendedprice").cast("double").alias("pd"),
    )
    bucketed = li.withColumn("bkt", bucket_of("pd", quantile_bounds(li, "pd")))
    counts = {
        int(r["bkt"]): int(r["n"])
        for r in bucketed.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = sum(counts.values())
    n_buckets = (max(counts) + 1) if counts else 1
    offs, acc = [], 0
    for b in range(n_buckets):
        offs.append(acc)
        acc += counts.get(b, 0)
    targets = {
        "p50": (n + 1) // 2,
        "p90": (9 * n + 9) // 10,
        "p99": (99 * n + 99) // 100,
    }
    hit_buckets = set()
    for k in targets.values():
        for b in range(n_buckets):
            if offs[b] < k <= offs[b] + counts.get(b, 0):
                hit_buckets.add(b)
    from pyspark.sql.window import Window

    pruned = bucketed.filter(F.col("bkt").isin(sorted(hit_buckets)))
    wl = Window.partitionBy("bkt").orderBy(
        "price", "l_orderkey", "l_linenumber"
    )
    off_arr = "array(" + ",".join(f"{x}L" for x in offs) + ")"
    ranked = pruned.withColumn("lr", F.row_number().over(wl)).withColumn(
        "gr", F.expr(f"element_at({off_arr}, bkt + 1) + lr")
    )
    label = F.lit(None).cast("string")
    for name, k in sorted(targets.items()):
        label = F.when(F.col("gr") == k, F.lit(name)).otherwise(label)
    return (
        ranked.withColumn("q", label)
        .filter(F.col("q").isNotNull())
        .select(
            "q",
            F.col("gr").alias("k"),
            F.col("price").cast("double").alias("value"),
        )
    )


# q170 rank-discount weights 1/log2(p+1), snapped to 9 decimals in
# Python and embedded as literals on BOTH sides (the q162 decay-table
# convention — no runtime log2, no ulp divergence). Graded relevance
# = 4 - truth_rank (3/2/1 for the brute-force top-3, 0 otherwise), so
# the ideal DCG is the fixed literal 3*w1 + 2*w2 + 1*w3.
import math as _math

_NDCG_W = [round(1.0 / _math.log2(p + 1), 9) for p in (1, 2, 3)]
_NDCG_IDEAL = round(
    3 * _NDCG_W[0] + 2 * _NDCG_W[1] + 1 * _NDCG_W[2], 9
)
_DCG_TERM = "CAST(ROUND(rel * w, 9) AS DECIMAL(18,9))"
_MRR_TERM = (
    "COALESCE(ROUND(CAST(1.0 AS DOUBLE) / mp, 6), CAST(0.0 AS DOUBLE))"
)


def q170_ann_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the q30 IVF index: MRR and
    graded nDCG@3 per query against brute-force truth — the two
    metrics a retrieval/RAG deployment actually reports (q103's
    recall@3 counts hits; these also score WHERE in the list the hits
    landed). Relevance is graded by truth rank (3/2/1), discounts are
    the standard 1/log2(p+1) as plan literals, and MRR is the
    reciprocal of the first relevant position (0 when the index
    misses everything).

    Scale shape: q103's exact plan shapes for both sides (broadcast
    20-query truth side, spread candidates, hoisted norms); the eval
    itself is one left join on (query, candidate) + one query-keyed
    partial agg over ≤3 rows per query."""
    from ..operators.similarity import (
        _ensure_parallelism,
        _norm2_array,
        exact_brute_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    ivf = SIM.ivf_topk(e, k=3, max_query_id=20)
    qv = F.broadcast(
        e.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            _norm2_array(F.col("embedding")).alias("qn2"),
        )
    )
    cv = _ensure_parallelism(e).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cvec"),
        _norm2_array(F.col("embedding")).alias("cn2"),
    )
    # truth via exact_brute_topk's lossless double top-k prefilter
    # (decimal folds only on ~3rd-best-margin survivors — r12)
    truth = exact_brute_topk(qv, cv, 3, "query_id", "cand_id").select(
        "query_id",
        F.col("cand_id").alias("vec_id"),
        F.col("rank").alias("rt"),
    )
    joined = ivf.select("query_id", "vec_id", F.col("rn").alias("p")).join(
        truth, ["query_id", "vec_id"], "left"
    )
    terms = joined.select(
        "query_id",
        "p",
        F.coalesce(4 - F.col("rt"), F.lit(0)).alias("rel"),
        F.element_at(
            F.lit(_NDCG_W).cast("array<double>"),
            F.col("p").cast("int"),
        ).alias("w"),
    )
    per = terms.groupBy("query_id").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).alias("n_hits"),
        F.sum(F.expr(_DCG_TERM)).alias("dcg"),
        F.min(F.when(F.col("rel") > 0, F.col("p"))).alias("mp"),
    )
    return per.select(
        "query_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.expr(_MRR_TERM).alias("mrr"),
        F.round(
            F.col("dcg").cast("double") / F.lit(_NDCG_IDEAL), 6
        ).alias("ndcg"),
    )


def q103_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation as a QUERY: recall@3 of the q30 IVF
    index against exact brute-force truth for the same 20 queries —
    the eval loop every ANN deployment runs, expressed as a join of
    the two verified retrieval plans. Output per query:
    (query_id, n_hits, recall). The oracle nests q30's whole verified
    oracle as the index side and a generalized q26 brute CTE as truth,
    so the audit itself is differentially certified."""
    from ..operators.similarity import (
        _ensure_parallelism,
        _norm2_array,
        exact_brute_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    ivf = SIM.ivf_topk(e, k=3, max_query_id=20)
    # Both norms are hoisted OUT of the pair expression: in a 20xN
    # cross join each candidate row is scored 20 times and each query
    # N times, so an inline norm would redo the interpreted decimal
    # fold that many times (3x the per-pair HOF work). The candidate
    # side is also spread first — a single-file parquet scan arrives
    # as ONE partition and would score all 20xN pairs in one task.
    qv = F.broadcast(
        e.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            _norm2_array(F.col("embedding")).alias("qn2"),
        )
    )
    cv = _ensure_parallelism(e).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cvec"),
        _norm2_array(F.col("embedding")).alias("cn2"),
    )
    # truth via exact_brute_topk's lossless double top-k prefilter
    # (decimal folds only on ~3rd-best-margin survivors — r12)
    truth = exact_brute_topk(qv, cv, 3, "query_id", "cand_id")
    hits = truth.join(
        ivf.select("query_id", F.col("vec_id").alias("cand_id"), F.lit(1).alias("hit")),
        ["query_id", "cand_id"],
        "left",
    ).groupBy("query_id").agg(F.count("hit").alias("n_hits"))
    return hits.select(
        "query_id",
        "n_hits",
        F.round(F.col("n_hits") / 3.0, 6).alias("recall"),
    )


def q104_importance_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted (importance) sampling: keep each doc with
    probability equal to its q91 quality score, using a DETERMINISTIC
    uniform — the Knuth multiplicative hash of doc_id over 2^32 — so
    the same subset materializes on any cluster, any partitioning, no
    RNG state (the q39/q79 discipline applied to weighted selection,
    the data-selection step of quality-scored pretraining pipelines).
    Output per source: docs, kept docs, expected vs actual keep rate
    (expected = mean quality prob, accumulated in exact decimal)."""
    d = load_table(spark, sf_dir, "documents")
    prob = _quality_prob()
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    scored = d.select(
        "source",
        prob.alias("p"),
        (u < prob).cast("long").alias("kept"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.sum(F.col("p").cast("decimal(18,6)")).alias("psum"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_kept",
        F.round(F.col("psum").cast("double") / F.col("n_docs"), 6).alias(
            "expected_rate"
        ),
        F.round(F.col("n_kept") / F.col("n_docs"), 6).alias("actual_rate"),
    )


def q105_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-corpus LM perplexity filtering (the CCNet/KenLM shape, built
    from the corpus itself so it is fully SQL-expressible): train an
    add-1-smoothed bigram LM on the whole corpus (q68's count
    machinery), then score every doc by its mean token log-probability
    and perplexity. Low-probability docs are the quality-filter
    candidates.

    Cross-engine float discipline: ln() differs in the last ulp across
    libms, so each term is ROUND(...,6)-snapped and cast to
    decimal(18,6) BEFORE the per-doc sum (binary doubles never sit on
    decimal midpoints, so the cast is engine-identical) — the sum is
    then exact and partitioning-independent; only the final mean /
    exp are float, re-rounded to 6dp."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", TX.tokens("text").alias("t"))
    n = F.size("t")
    big = toks.select(
        "doc_id",
        F.arrays_zip(
            F.slice("t", 1, n - 1).alias("w1"),
            F.slice(F.col("t"), 2, n - 1).alias("w2"),
        ).alias("bg"),
    ).select("doc_id", F.explode_outer("bg").alias("b")).filter(
        F.col("b").isNotNull()
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = toks.select(F.explode_outer("t").alias("w")).filter(
        F.col("w").isNotNull()
    ).agg(F.count_distinct("w").alias("v"))
    lnp = F.round(
        F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v"))), 6
    ).cast("decimal(18,6)")
    per_doc = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(lnp).alias("lsum"),
        )
    )
    avg = F.col("lsum").cast("double") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(avg, 6).alias("avg_logprob"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )


def _global_rank_desc(df: DataFrame, key: str) -> DataFrame:
    """(doc_id, r): dense global row-number of ``df`` under the total
    order (key DESC, doc_id ASC), computed as the q150 two-phase
    bucketed rewrite — sampled boundaries bucket the rows, each bucket
    ranks locally in parallel, and the per-bucket counts lift local
    ranks through a broadcast triangular join (higher buckets =
    earlier ranks). No unpartitioned window at any corpus size."""
    from pyspark.sql.window import Window

    from ..caching import persist_tracked

    # three consumers read this frame (the boundary probe, the bucket
    # counts, the ranking window) — persist so a computed key (q202's
    # token counts tokenize the corpus) is derived ONCE, not per pass
    b = persist_tracked(df.withColumn("_kd", F.col(key).cast("double")))
    bnds = quantile_bounds(b, "_kd")
    bk = b.withColumn("_bkt", bucket_of("_kd", bnds))
    bs = bk.groupBy("_bkt").agg(F.count(F.lit(1)).alias("bn"))
    offs = bucket_offsets(bs, {"roff": (F.sum, "bn")}, desc=True)
    wl = Window.partitionBy("_bkt").orderBy(
        F.col(key).desc(), F.col("doc_id").asc()
    )
    return bk.join(F.broadcast(offs), "_bkt").select(
        "doc_id", (F.col("roff") + F.row_number().over(wl)).alias("r")
    )


# RRF term: 1/(k + rank) with the standard k=60, snapped to 9 decimals
# and decimal-cast per ranking so the fused score is an exact,
# order-independent decimal both engines sort identically.
_RRF_1 = "CAST(ROUND(CAST(1 AS DOUBLE) / (60 + r1), 9) AS DECIMAL(18,9))"
_RRF_2 = "CAST(ROUND(CAST(1 AS DOUBLE) / (60 + r2), 9) AS DECIMAL(18,9))"


def q202_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval orderings (RRF, the
    standard score-free ensemble: Cormack et al. 2009): rank documents
    by char length and independently by token count, fuse with
    Σ 1/(60+rankᵢ), return the top 20. The operator every hybrid
    search pipeline needs to merge BM25-ish (q122) and embedding-ish
    (q26) candidate lists without calibrating their incomparable
    scores. Output: doc_id, both ranks, fused score.

    Scale shape: each ranking is the two-phase bucketed global rank
    (_global_rank_desc — no unpartitioned window); the fusion is one
    doc_id equi-join; the top-20 compiles to TakeOrderedAndProject
    (per-partition top-k, driver merges 20-row heaps)."""
    d = load_table(spark, sf_dir, "documents")
    r1 = _global_rank_desc(
        d.select("doc_id", F.col("n_chars").alias("k1")), "k1"
    ).withColumnRenamed("r", "r1")
    r2 = _global_rank_desc(
        d.select(
            "doc_id",
            F.size(TX.tokens("text")).cast("long").alias("k2"),
        ),
        "k2",
    ).withColumnRenamed("r", "r2")
    fused = r1.join(r2, "doc_id").withColumn(
        "s", F.expr(f"{_RRF_1} + {_RRF_2}")
    )
    return (
        fused.orderBy(F.col("s").desc(), F.col("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            "r1",
            "r2",
            F.col("s").cast("double").alias("rrf_score"),
        )
    )


def q240_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing schedule: the actual TRAINING ORDER a
    multi-source run reads documents in, interleaving sources
    proportionally to their total character mass via stride scheduling
    — the k-th doc of source s lands at virtual time k/weight_s, so a
    source holding 30% of the corpus occupies ~30% of every schedule
    window (no head-of-corpus bias, no RNG, reproducible on any
    cluster). The operator a 100 TB mixture run needs BEFORE sharding:
    q81 picks the weights, this emits the order.

    Exactness: virtual time is the scaled integer quotient
    (k · grand · 10⁶) DIV t_src — pure BIGINT on both engines, no
    float ratios (document the 2⁶³ headroom: k·grand·10⁶ needs
    k·corpus_chars < 9.2e12, i.e. re-scale the 10⁶ for corpora beyond
    ~10¹² chars·rank). Global position = the two-phase bucketed rank
    (_global_rank_desc over the negated key — no unpartitioned
    window); per-source k is a source-partitioned window."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("nc")
    )
    t = d.groupBy("source").agg(F.sum("nc").alias("t_src"))
    g = d.agg(F.sum("nc").alias("grand"))
    wk = Window.partitionBy("source").orderBy("doc_id")
    k = d.select("doc_id", "source", F.row_number().over(wk).alias("k"))
    v = (
        k.join(t, "source")
        .crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            "source",
            "k",
            F.expr(
                "CAST((CAST(k AS BIGINT) * grand * 1000000) DIV t_src"
                " AS BIGINT)"
            ).alias("vt"),
        )
    )
    r = _global_rank_desc(
        v.select("doc_id", (-F.col("vt")).alias("nk")), "nk"
    ).withColumnRenamed("r", "position")
    return v.join(r, "doc_id").select(
        "doc_id", "source", "k", "vt", "position"
    )


QUERIES = {
    "q86_dup_spans": q86_dup_spans,
    "q240_mixture_schedule": q240_mixture_schedule,
    "q202_rrf_fusion": q202_rrf_fusion,
    "q87_semantic_dedup": q87_semantic_dedup,
    "q88_mmr_rerank": q88_mmr_rerank,
    "q89_pagerank": q89_pagerank,
    "q91_quality_model": q91_quality_model,
    "q92_tokenizer_fertility": q92_tokenizer_fertility,
    "q93_semantic_contamination": q93_semantic_contamination,
    "q286_scaled_lsh_contamination": q286_scaled_lsh_contamination,
    "q287_lsh_recall_audit": q287_lsh_recall_audit,
    "q289_lsh_sizing_tuner": q289_lsh_sizing_tuner,
    "q297_ivf_sizing_tuner": q297_ivf_sizing_tuner,
    "q94_span_scrub": q94_span_scrub,
    "q95_exact_quantiles": q95_exact_quantiles,
    "q103_ann_recall_audit": q103_ann_recall_audit,
    "q104_importance_sampling": q104_importance_sampling,
    "q105_bigram_lm_score": q105_bigram_lm_score,
    "q170_ann_ranking_eval": q170_ann_ranking_eval,
}


def q96_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second flagship composite (q77's curation-side sibling), chaining
    the round-4b operators end to end over raw documents:
    1. model-based quality gate — keep docs with q91 prob >= 0.5;
    2. span-level scrub among the SURVIVORS — q86/q94's duplicated
       8-token windows recomputed on the kept set (dedup after
       filtering, the production order), covered tokens removed;
    3. minimum-length gate — drop docs left with < 5 tokens;
    4. q79 split carve + per (source, split) doc/token budgets —
       the manifest a training run materializes.
    Every stage is a verified component; the oracle is the same CTE
    chain, so the COMPOSITION (filter pushdown across stages, the
    survivor-only dup recompute) is what this query certifies.

    Scale: quality gate is a scan-side projection (pushes below
    everything); span scrub shuffles only 16-byte hashes of the
    surviving corpus; the rollup is a partial agg on (source, split).
    """
    from ..caching import persist_tracked

    d = load_table(spark, sf_dir, "documents")
    k = _SPAN_K
    kept_docs = d.filter(_quality_prob() >= 0.5)
    toks = kept_docs.select(
        "doc_id", "source", TX.tokens("text").alias("t")
    )
    n = F.size("t")
    span_arr = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # persisted + min/max dup test (r13): same rewrite as
    # dup_span_stats / q94 — see dup_span_stats for the rationale
    # (interleaved same-session A/B: base 2.49 / minmax 2.25 /
    # minmax+persist 1.96 s best-of-4 at sf0.1)
    spans = persist_tracked(
        toks.select("doc_id", F.posexplode_outer(span_arr).alias("pos0", "h"))
        .filter(F.col("h").isNotNull())
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    )
    dup = (
        spans.groupBy("h")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("h")
    )
    flagged = spans.join(dup, "h", "left_semi").groupBy("doc_id").agg(
        F.sort_array(F.collect_set("pos")).alias("ps")
    )
    scrubbed = toks.join(flagged, "doc_id", "left").select(
        "doc_id",
        "source",
        F.when(F.col("ps").isNull(), F.col("t"))
        .otherwise(
            F.filter(
                F.col("t"),
                lambda tok, i: ~F.exists(
                    F.col("ps"),
                    lambda p: (p <= i + 1) & (i + 1 <= p + (k - 1)),
                ),
            )
        )
        .alias("kept"),
    )
    final = scrubbed.select(
        "doc_id", "source", F.size("kept").alias("nt")
    ).filter(F.col("nt") >= 5)
    return (
        final.select("source", _split_of(F.col("doc_id")).alias("split"), "nt")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )
    )


QUERIES["q96_curation_pipeline"] = q96_curation_pipeline

ORACLE = {
    "q240_mixture_schedule": """
        WITH t AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t_src
                   FROM documents GROUP BY source),
        g AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS grand FROM documents),
        k AS (SELECT doc_id, source,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY doc_id) AS k
              FROM documents),
        v AS (SELECT doc_id, source, k,
                     CAST((CAST(k AS BIGINT) * grand * 1000000) // t_src
                          AS BIGINT) AS vt
              FROM k JOIN t USING (source) CROSS JOIN g)
        SELECT doc_id, source, CAST(k AS INT) AS k, vt,
               ROW_NUMBER() OVER (ORDER BY vt, doc_id) AS position
        FROM v
    """,
    "q202_rrf_fusion": f"""
        WITH t AS (
            SELECT doc_id, n_chars AS k1, len({_TOK}) AS k2
            FROM documents),
        r AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY k1 DESC, doc_id)
                        AS BIGINT) AS r1,
                   CAST(ROW_NUMBER() OVER (ORDER BY k2 DESC, doc_id)
                        AS BIGINT) AS r2
            FROM t),
        f AS (
            SELECT doc_id, r1, r2,
                   {_RRF_1} + {_RRF_2} AS s
            FROM r)
        SELECT doc_id, r1, r2, CAST(s AS DOUBLE) AS rrf_score
        FROM f ORDER BY s DESC, doc_id LIMIT 20
    """,
    "q86_dup_spans": f"""
        WITH toks AS (SELECT doc_id, source, {_TOK} AS t FROM documents),
        spans AS (
            SELECT doc_id, source,
                   unnest(list_transform(
                       range(1, len(t) - {_SPAN_K - 2}),
                       i -> md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' '))
                   )) AS h
            FROM toks WHERE len(t) >= {_SPAN_K}),
        dup AS (SELECT h FROM spans
                GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        per_doc AS (SELECT s.doc_id,
                           any_value(s.source) AS source,
                           COUNT(*) AS n_spans,
                           COUNT(d.h) AS dup_spans
                    FROM spans s LEFT JOIN dup d ON d.h = s.h
                    GROUP BY s.doc_id),
        per_src AS (SELECT source,
                           CAST(SUM(CASE WHEN dup_spans > 0 THEN 1
                                         ELSE 0 END) AS BIGINT)
                               AS n_docs_with_dup,
                           CAST(SUM(n_spans) AS BIGINT) AS total_spans,
                           CAST(SUM(dup_spans) AS BIGINT) AS dup_spans
                    FROM per_doc GROUP BY source),
        docs AS (SELECT source, COUNT(*) AS n_docs
                 FROM documents GROUP BY source)
        SELECT d.source, d.n_docs,
               COALESCE(p.n_docs_with_dup, 0) AS n_docs_with_dup,
               COALESCE(p.total_spans, 0) AS total_spans,
               COALESCE(p.dup_spans, 0) AS dup_spans,
               CASE WHEN COALESCE(p.total_spans, 0) = 0 THEN 0.0
                    ELSE ROUND(CAST(COALESCE(p.dup_spans, 0) AS DOUBLE)
                               / p.total_spans, 6) END AS dup_span_ratio
        FROM docs d LEFT JOIN per_src p ON p.source = d.source
    """,
    # q87: the q60 unrolled 3-round Lloyd trainer CTEs, the same
    # fast-assignment step (double dot / double norms, mirroring
    # _probe_lists' assign_exact=False), then within-cluster-CELL
    # pairwise decimal cosine and the rank-free drop rule stated
    # verbatim — including the giant-cluster split: clusters over 4096
    # rows re-split into ceil(size/4096) cells by the Knuth hash of vid
    # (_cluster_cells' literals restated here).
    "q87_semantic_dedup": _KM_CTES
    + f""",
        norms AS MATERIALIZED (
                  SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
                  FROM e GROUP BY vec_id),
        cn AS (SELECT cid, SUM(CAST(v * v AS DECIMAL(38,25))) AS cn2
               FROM cent3 GROUP BY cid),
        pdots AS (SELECT e.vec_id AS vid, c.cid,
                         CAST(SUM(CAST(e.v * c.v AS DECIMAL(38,25)))
                              AS DOUBLE) AS dot
                  FROM e JOIN cent3 c ON c.pos = e.pos
                  GROUP BY e.vec_id, c.cid),
        pranked AS (
            SELECT d.vid, d.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.vid
                       ORDER BY d.dot / (sqrt(CAST(nv.n2 AS DOUBLE))
                                         * sqrt(CAST(cn.cn2 AS DOUBLE))) DESC,
                                d.cid) AS crn
            FROM pdots d
            JOIN norms nv ON nv.vec_id = d.vid
            JOIN cn ON cn.cid = d.cid),
        kassign AS MATERIALIZED (
                    SELECT vid, cid FROM pranked WHERE crn = 1),
        csz AS (SELECT cid, COUNT(*) AS csz FROM kassign GROUP BY cid),
        kcell AS (SELECT k.vid, k.cid,
                         ((k.vid * 2654435761) % 4294967296)
                         % CAST(CEIL(CAST(c.csz AS DOUBLE) / 4096.0)
                                AS BIGINT) AS sub
                  FROM kassign k JOIN csz c ON c.cid = k.cid),
        pairs AS (SELECT a.vid AS id1, b.vid AS id2
                  FROM kcell a JOIN kcell b
                    ON b.cid = a.cid AND b.sub = a.sub AND a.vid < b.vid),
        sdots AS (SELECT p.id1, p.id2,
                         SUM(CAST(e1.v * e2.v AS DECIMAL(38,25))) AS dot
                  FROM pairs p
                  JOIN e e1 ON e1.vec_id = p.id1
                  JOIN e e2 ON e2.vec_id = p.id2 AND e2.pos = e1.pos
                  GROUP BY p.id1, p.id2),
        dropped AS (SELECT DISTINCT d.id2 AS vid
                    FROM sdots d
                    JOIN norms n1 ON n1.vec_id = d.id1
                    JOIN norms n2 ON n2.vec_id = d.id2
                    WHERE {_SCORE.format(dot="d.dot", n1="n1.n2", n2="n2.n2")}
                          >= 0.4)
        SELECT a.cid,
               COUNT(*) AS n_vecs,
               COUNT(dr.vid) AS n_dropped,
               ROUND(CAST(COUNT(*) - COUNT(dr.vid) AS DOUBLE) / COUNT(*), 6)
                   AS keep_ratio
        FROM kassign a LEFT JOIN dropped dr ON dr.vid = a.vid
        GROUP BY a.cid
    """,
    # q88: pool + pairwise-sim CTEs, then the 5 greedy rounds unrolled
    # (round 1 is pure relevance: empty-selected-set max = 0). The
    # multiply-referenced CTEs are MATERIALIZED: DuckDB inlines CTEs by
    # default, so each greedy round re-derived the whole corpus-scoring
    # subplan — the exact pathology the Spark side fixes with per-pick
    # checkpoints — and the oracle alone cost 57 s at sf0.01 (0.3 s
    # materialized, identical rows).
    "q88_mmr_rerank": f"""
        WITH e AS MATERIALIZED (
                   SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        norms AS MATERIALIZED (
                  SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
                  FROM e GROUP BY vec_id),
        qd AS (SELECT x.vec_id AS vid,
                      SUM(CAST(q.v * x.v AS DECIMAL(38,25))) AS dot
               FROM e q JOIN e x ON x.pos = q.pos AND x.vec_id <> 0
               WHERE q.vec_id = 0
               GROUP BY x.vec_id),
        rels AS (SELECT d.vid,
                        {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nx.n2")}
                            AS rel
                 FROM qd d
                 JOIN norms nq ON nq.vec_id = 0
                 JOIN norms nx ON nx.vec_id = d.vid),
        pool AS MATERIALIZED (
                 SELECT vid, rel FROM (
                   SELECT vid, rel,
                          ROW_NUMBER() OVER (ORDER BY rel DESC, vid) AS rn
                   FROM rels) WHERE rn <= 16),
        pd AS (SELECT a.vid AS a, b.vid AS b,
                      SUM(CAST(ea.v * eb.v AS DECIMAL(38,25))) AS dot
               FROM pool a JOIN pool b ON a.vid <> b.vid
               JOIN e ea ON ea.vec_id = a.vid
               JOIN e eb ON eb.vec_id = b.vid AND eb.pos = ea.pos
               GROUP BY a.vid, b.vid),
        psim AS MATERIALIZED (
                 SELECT d.a, d.b,
                        {_SCORE.format(dot="d.dot", n1="na.n2", n2="nb.n2")}
                            AS sim
                 FROM pd d
                 JOIN norms na ON na.vec_id = d.a
                 JOIN norms nb ON nb.vec_id = d.b),
        pick1 AS (SELECT vid, rel, ROUND(0.7 * rel, 6) AS mmr
                  FROM pool ORDER BY rel DESC, vid LIMIT 1),
        sel1 AS (SELECT vid FROM pick1),"""
    + ",".join(_mmr_round(r) for r in range(2, 6))
    + """
        SELECT 1 AS rank, vid AS vec_id, rel AS relevance, mmr AS mmr_score
        FROM pick1
        UNION ALL SELECT 2, vid, rel, mmr FROM pick2
        UNION ALL SELECT 3, vid, rel, mmr FROM pick3
        UNION ALL SELECT 4, vid, rel, mmr FROM pick4
        UNION ALL SELECT 5, vid, rel, mmr FROM pick5
    """,
    # q89: graph CTEs + 3 unrolled PageRank rounds (float32-snapped).
    "q89_pagerank": """
        WITH pairs AS (SELECT DISTINCT
                           'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                           's' || CAST(l.l_suppkey AS VARCHAR) AS s
                       FROM lineitem l
                       JOIN orders o ON o.o_orderkey = l.l_orderkey),
        e AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s AS src, c AS dst FROM pairs),
        od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        ed AS (SELECT e.src, e.dst, od.outdeg
               FROM e JOIN od ON od.src = e.src),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),"""
    + ",".join(_pr_round(i) for i in (1, 2, 3))
    + """
        SELECT ROW_NUMBER() OVER (ORDER BY ROUND(rank, 10) DESC, node)
                   AS rn,
               node, ROUND(rank, 10) AS rank
        FROM r3
        ORDER BY rn LIMIT 10
    """,
    # q96: the q91 scorer CTE -> survivor-only q94 span scrub -> length
    # gate -> q79 split carve -> (source, split) rollup, as one chain.
    "q96_curation_pipeline": f"""
        WITH feats AS (
            SELECT doc_id, source, text,
                   len({_TOK}) AS n_tokens,
                   CAST(length(regexp_extract_all(text, '[^\\w\\s]'))
                        AS DOUBLE) / length(text) AS punct_ratio,
                   CAST(len(list_filter({_TOK},
                            t -> t IN ('the','a','of','and','to','in',
                                       'is','it'))) AS DOUBLE)
                       / len({_TOK}) AS stop_ratio,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                        AS DOUBLE) / len({_TOK}) AS avg_tok_len
            FROM documents),
        kept_docs AS (
            SELECT doc_id, source, text FROM feats
            WHERE ROUND(1.0 / (1.0 + exp(-(-1.2
                      + 0.35 * ln(1.0 + n_tokens)
                      - 8.0 * punct_ratio
                      + 6.0 * stop_ratio
                      - 0.15 * avg_tok_len))), 6) >= 0.5),
        toks AS (SELECT doc_id, source, {_TOK} AS t FROM kept_docs),
        spans AS (
            SELECT doc_id,
                   unnest(range(1, len(t) - {_SPAN_K - 2})) AS pos,
                   unnest(list_transform(
                       range(1, len(t) - {_SPAN_K - 2}),
                       i -> md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' '))
                   )) AS h
            FROM toks WHERE len(t) >= {_SPAN_K}),
        dup AS (SELECT h FROM spans
                GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        flagged AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS ps
                    FROM spans WHERE h IN (SELECT h FROM dup)
                    GROUP BY doc_id),
        scrubbed AS (
            SELECT t.doc_id, t.source,
                   CASE WHEN f.ps IS NULL THEN len(t.t)
                        ELSE len(list_filter(t.t,
                            (tok, i) -> len(list_filter(f.ps,
                                p -> p <= i AND i <= p + {_SPAN_K - 1})) = 0))
                        END AS nt
            FROM toks t LEFT JOIN flagged f ON f.doc_id = t.doc_id),
        final AS (SELECT * FROM scrubbed WHERE nt >= 5)
        SELECT source,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                    THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN 'val'
                    ELSE 'train' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM final
        GROUP BY 1, 2
    """,
    # q104: the q91 scorer + Knuth-hash deterministic uniform.
    "q104_importance_sampling": f"""
        WITH feats AS (
            SELECT doc_id, source,
                   len({_TOK}) AS n_tokens,
                   CAST(length(regexp_extract_all(text, '[^\\w\\s]'))
                        AS DOUBLE) / length(text) AS punct_ratio,
                   CAST(len(list_filter({_TOK},
                            t -> t IN ('the','a','of','and','to','in',
                                       'is','it'))) AS DOUBLE)
                       / len({_TOK}) AS stop_ratio,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                        AS DOUBLE) / len({_TOK}) AS avg_tok_len
            FROM documents),
        scored AS (
            SELECT doc_id, source,
                   ROUND(1.0 / (1.0 + exp(-(-1.2
                       + 0.35 * ln(1.0 + n_tokens)
                       - 8.0 * punct_ratio
                       + 6.0 * stop_ratio
                       - 0.15 * avg_tok_len))), 6) AS p,
                   CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE)
                       / 4294967296.0 AS u
            FROM feats),
        agg AS (
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN u < p THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept,
                   SUM(CAST(p AS DECIMAL(18,6))) AS psum
            FROM scored GROUP BY source)
        SELECT source, n_docs, n_kept,
               ROUND(CAST(psum AS DOUBLE) / n_docs, 6) AS expected_rate,
               ROUND(CAST(n_kept AS DOUBLE) / n_docs, 6) AS actual_rate
        FROM agg
    """,
    # q105: corpus bigram LM + per-doc mean log-prob; each ln term is
    # round-6-snapped then decimal-cast before summation (see
    # docstring for the cross-engine libm argument).
    "q105_bigram_lm_score": f"""
        WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
        big AS (SELECT doc_id,
                       unnest(t[1:len(t) - 1]) AS w1,
                       unnest(t[2:len(t)]) AS w2
                FROM toks WHERE len(t) >= 2),
        c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        vv AS (SELECT COUNT(DISTINCT w) AS v FROM
                   (SELECT unnest(t) AS w FROM toks)),
        terms AS (SELECT b.doc_id,
                         CAST(ROUND(ln((c12.c12 + 1.0) / (c1.c1 + vv.v)), 6)
                              AS DECIMAL(18,6)) AS lnp
                  FROM big b
                  JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
                  JOIN c1 ON c1.w1 = b.w1, vv),
        per_doc AS (SELECT doc_id,
                           COUNT(*) AS n_bigrams,
                           SUM(lnp) AS lsum
                    FROM terms GROUP BY doc_id)
        SELECT doc_id, n_bigrams,
               ROUND(CAST(lsum AS DOUBLE) / n_bigrams, 6) AS avg_logprob,
               ROUND(exp(-(CAST(lsum AS DOUBLE) / n_bigrams)), 6) AS ppl
        FROM per_doc
    """,
    # q95: type-1 quantiles — k-th smallest with k in INTEGER ceil
    # arithmetic, (price, orderkey, linenumber) tiebreak. The oracle is
    # the single-window form; the engine's bucketed plan must land on
    # the identical rows.
    "q95_exact_quantiles": """
        WITH r AS (SELECT l_extendedprice AS price,
                          ROW_NUMBER() OVER (
                              ORDER BY l_extendedprice, l_orderkey,
                                       l_linenumber) AS rn
                   FROM lineitem),
        nn AS (SELECT COUNT(*) AS n FROM lineitem)
        SELECT 'p50' AS q, CAST(rn AS BIGINT) AS k,
               CAST(price AS DOUBLE) AS value
        FROM r, nn WHERE rn = (nn.n + 1) // 2
        UNION ALL
        SELECT 'p90', CAST(rn AS BIGINT), CAST(price AS DOUBLE)
        FROM r, nn WHERE rn = (9 * nn.n + 9) // 10
        UNION ALL
        SELECT 'p99', CAST(rn AS BIGINT), CAST(price AS DOUBLE)
        FROM r, nn WHERE rn = (99 * nn.n + 99) // 100
    """,
    # q94: q86's span pipeline with positions, then a per-doc list
    # rebuild. DuckDB zips parallel unnests (the q29 band idiom) to
    # pair each position with its hash; the coverage test is a nested
    # list_filter lambda (1-based index; Spark's HOF index is 0-based,
    # hence the +1 on the Spark side).
    "q94_span_scrub": f"""
        WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
        spans AS (
            SELECT doc_id,
                   unnest(range(1, len(t) - {_SPAN_K - 2})) AS pos,
                   unnest(list_transform(
                       range(1, len(t) - {_SPAN_K - 2}),
                       i -> md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' '))
                   )) AS h
            FROM toks WHERE len(t) >= {_SPAN_K}),
        dup AS (SELECT h FROM spans
                GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        flagged AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS ps
                    FROM spans WHERE h IN (SELECT h FROM dup)
                    GROUP BY doc_id),
        scr AS (SELECT f.doc_id,
                       len(t.t) AS n_tokens_before,
                       list_filter(t.t,
                           (tok, i) -> len(list_filter(f.ps,
                               p -> p <= i AND i <= p + {_SPAN_K - 1})) = 0
                       ) AS kept
                FROM flagged f JOIN toks t ON t.doc_id = f.doc_id)
        SELECT doc_id, n_tokens_before,
               len(kept) AS n_tokens_after,
               -- COALESCE: array_to_string([]) is NULL in DuckDB but
               -- concat_ws('') is '' in Spark (fully-scrubbed docs)
               md5(COALESCE(array_to_string(kept, ' '), ''))
                   AS scrubbed_fp
        FROM scr
    """,
    "q91_quality_model": f"""
        WITH feats AS (
            SELECT doc_id,
                   len({_TOK}) AS n_tokens,
                   CAST(length(regexp_extract_all(text, '[^\\w\\s]'))
                        AS DOUBLE) / length(text) AS punct_ratio,
                   CAST(len(list_filter({_TOK},
                            t -> t IN ('the','a','of','and','to','in',
                                       'is','it'))) AS DOUBLE)
                       / len({_TOK}) AS stop_ratio,
                   CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                        AS DOUBLE) / len({_TOK}) AS avg_tok_len
            FROM documents),
        scored AS (
            SELECT doc_id,
                   ROUND(1.0 / (1.0 + exp(-(-1.2
                       + 0.35 * ln(1.0 + n_tokens)
                       - 8.0 * punct_ratio
                       + 6.0 * stop_ratio
                       - 0.15 * avg_tok_len))), 6) AS quality_prob
            FROM feats)
        SELECT doc_id, quality_prob, quality_prob >= 0.5 AS keep
        FROM scored
    """,
    "q92_tokenizer_fertility": f"""
        WITH per AS (
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars,
                   CAST(SUM(len(regexp_extract_all(text,
                        '{{BPE}}'))) AS BIGINT) AS total_pieces,
                   CAST(SUM(len({_TOK})) AS BIGINT) AS total_words
            FROM documents GROUP BY source)
        SELECT source, n_docs, total_chars, total_pieces, total_words,
               ROUND(CAST(total_pieces AS DOUBLE) / total_words, 6)
                   AS pieces_per_word,
               ROUND(CAST(total_chars AS DOUBLE) / total_pieces, 6)
                   AS chars_per_piece
        FROM per
    """,
}

# splice the BPE pattern in after dict construction (it contains quotes
# that must be SQL-escaped the same way q61's oracle escapes them)
from .extensions import _BPE_PATTERN as _BPE  # noqa: E402

ORACLE["q92_tokenizer_fertility"] = ORACLE["q92_tokenizer_fertility"].replace(
    "{BPE}", _BPE.replace("'", "''")
)

# q93's oracle nests q29's whole verified near-dup oracle as the pair
# source (same bands, same decimal verify) at the q93 threshold, then
# applies the q79 split rule and the cross-split rollup.
from .llm import ORACLE as _LLM_ORACLE  # noqa: E402

_PAIRS_35 = _LLM_ORACLE["q29_embed_neardup"].replace(
    "WHERE cosine >= 0.4", "WHERE cosine >= 0.35"
)
assert "WHERE cosine >= 0.35" in _PAIRS_35  # guard against q29 edits

# q103's oracle: q30's whole oracle nested as the index side, a
# generalized q26-shape brute CTE as truth, LEFT JOIN + recall rollup.
ORACLE["q103_ann_recall_audit"] = f"""
    WITH ivf AS ({_LLM_ORACLE["q30_ivf_ann"]}),
    e2 AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
    norms2 AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
               FROM e2 GROUP BY vec_id),
    bdots AS (SELECT q.vec_id AS query_id, x.vec_id AS cand_id,
                     SUM(CAST(q.v * x.v AS DECIMAL(38,25))) AS dot
              FROM e2 q JOIN e2 x ON x.pos = q.pos
                                 AND x.vec_id <> q.vec_id
              WHERE q.vec_id < 20
              GROUP BY q.vec_id, x.vec_id),
    truth AS (SELECT query_id, cand_id FROM (
                SELECT d.query_id, d.cand_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY d.query_id
                           ORDER BY {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nc.n2")} DESC,
                                    d.cand_id) AS rn
                FROM bdots d
                JOIN norms2 nq ON nq.vec_id = d.query_id
                JOIN norms2 nc ON nc.vec_id = d.cand_id)
              WHERE rn <= 3),
    hits AS (SELECT t.query_id, COUNT(i.vec_id) AS n_hits
             FROM truth t LEFT JOIN ivf i
               ON i.query_id = t.query_id AND i.vec_id = t.cand_id
             GROUP BY t.query_id)
    SELECT query_id, n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / 3.0, 6) AS recall
    FROM hits
"""

# q170's oracle: the q103 nesting (q30's oracle as the index side, the
# brute CTE as truth) but keeping both ranks, with the Python-snapped
# discount/ideal literals and the shared term strings.
ORACLE["q170_ann_ranking_eval"] = f"""
    WITH ivf AS ({_LLM_ORACLE["q30_ivf_ann"]}),
    e2 AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
    norms2 AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
               FROM e2 GROUP BY vec_id),
    bdots AS (SELECT q.vec_id AS query_id, x.vec_id AS cand_id,
                     SUM(CAST(q.v * x.v AS DECIMAL(38,25))) AS dot
              FROM e2 q JOIN e2 x ON x.pos = q.pos
                                 AND x.vec_id <> q.vec_id
              WHERE q.vec_id < 20
              GROUP BY q.vec_id, x.vec_id),
    truth AS (SELECT query_id, cand_id, rt FROM (
                SELECT d.query_id, d.cand_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY d.query_id
                           ORDER BY {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nc.n2")} DESC,
                                    d.cand_id) AS rt
                FROM bdots d
                JOIN norms2 nq ON nq.vec_id = d.query_id
                JOIN norms2 nc ON nc.vec_id = d.cand_id)
              WHERE rt <= 3),
    terms AS (SELECT i.query_id, i.rn AS p,
                     CASE WHEN t.cand_id IS NOT NULL
                          THEN 4 - t.rt ELSE 0 END AS rel,
                     CASE i.rn WHEN 1 THEN {_NDCG_W[0]!r}
                               WHEN 2 THEN {_NDCG_W[1]!r}
                               ELSE {_NDCG_W[2]!r} END AS w
              FROM ivf i LEFT JOIN truth t
                ON t.query_id = i.query_id AND t.cand_id = i.vec_id),
    per AS (SELECT query_id,
                   CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hits,
                   SUM({_DCG_TERM}) AS dcg,
                   MIN(CASE WHEN rel > 0 THEN p END) AS mp
            FROM terms GROUP BY query_id)
    SELECT query_id, n_hits,
           {_MRR_TERM} AS mrr,
           ROUND(CAST(dcg AS DOUBLE) / {_NDCG_IDEAL!r}, 6) AS ndcg
    FROM per
"""

_SPLIT_SQL = (
    "CASE WHEN substr(md5(CAST({c} AS VARCHAR)), 1, 2) < '0d' THEN 'test' "
    "WHEN substr(md5(CAST({c} AS VARCHAR)), 1, 2) < '1a' THEN 'val' "
    "ELSE 'train' END"
)

from .llm import signlsh_cand_sql as _signlsh_cand_sql  # noqa: E402
from .llm import signlsh_pairs_sql as _signlsh_pairs_sql  # noqa: E402

ORACLE["q286_scaled_lsh_contamination"] = f"""
    WITH pairs AS ({_signlsh_pairs_sql("0.35", n_bits=32, band_bits=8)}),
    lab AS (SELECT id1, id2, cosine,
                   {_SPLIT_SQL.format(c="id1")} AS s1,
                   {_SPLIT_SQL.format(c="id2")} AS s2
            FROM pairs),
    x AS (SELECT CASE WHEN s1 = 'test' THEN id1 ELSE id2 END AS test_id,
                 cosine
          FROM lab
          WHERE (s1 = 'test' AND s2 = 'train')
             OR (s1 = 'train' AND s2 = 'test'))
    SELECT test_id,
           COUNT(*) AS n_train_neighbors,
           MAX(cosine) AS max_cosine
    FROM x GROUP BY test_id
"""



ORACLE["q287_lsh_recall_audit"] = f"""
    WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v
               FROM embeddings),
    norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
              FROM e GROUP BY vec_id),
    dots AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                    SUM(CAST(a.v * b.v AS DECIMAL(38,25))) AS dot
             FROM e a JOIN e b ON b.pos = a.pos AND a.vec_id < b.vec_id
             WHERE a.vec_id < 64
             GROUP BY 1, 2),
    truth AS (SELECT id1, id2,
                     CASE WHEN cosine >= 0.7 THEN 'high_0.70+'
                          WHEN cosine >= 0.5 THEN 'mid_0.50'
                          ELSE 'low_0.35' END AS cos_band
              FROM (SELECT d.id1, d.id2,
                           {_SCORE.format(dot="d.dot", n1="na.n2", n2="nb.n2")}
                               AS cosine
                    FROM dots d
                    JOIN norms na ON na.vec_id = d.id1
                    JOIN norms nb ON nb.vec_id = d.id2)
              WHERE cosine >= 0.35),
    l4 AS (SELECT id1, id2
           FROM ({_signlsh_pairs_sql("0.35", n_bits=16, band_bits=4)})
           WHERE id1 < 64),
    l8 AS (SELECT id1, id2
           FROM ({_signlsh_pairs_sql("0.35", n_bits=32, band_bits=8)})
           WHERE id1 < 64),
    r4 AS (SELECT 'bands4x4' AS config, cos_band,
                  COUNT(*) AS n_true, COUNT(l.id1) AS n_found
           FROM truth t LEFT JOIN l4 l USING (id1, id2)
           GROUP BY cos_band),
    r8 AS (SELECT 'bands4x8' AS config, cos_band,
                  COUNT(*) AS n_true, COUNT(l.id1) AS n_found
           FROM truth t LEFT JOIN l8 l USING (id1, id2)
           GROUP BY cos_band)
    SELECT config, cos_band,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_found AS BIGINT) AS n_found,
           ROUND(CAST(n_found AS DOUBLE) / n_true, 6) AS recall
    FROM (SELECT * FROM r4 UNION ALL SELECT * FROM r8) u
"""

ORACLE["q93_semantic_contamination"] = f"""
    WITH pairs AS ({_PAIRS_35}),
    lab AS (SELECT id1, id2, cosine,
                   {_SPLIT_SQL.format(c="id1")} AS s1,
                   {_SPLIT_SQL.format(c="id2")} AS s2
            FROM pairs),
    x AS (SELECT CASE WHEN s1 = 'test' THEN id1 ELSE id2 END AS test_id,
                 cosine
          FROM lab
          WHERE (s1 = 'test' AND s2 = 'train')
             OR (s1 = 'train' AND s2 = 'test'))
    SELECT test_id,
           COUNT(*) AS n_train_neighbors,
           MAX(cosine) AS max_cosine
    FROM x GROUP BY test_id
"""

# q289: the grid tuner — the width grid DERIVED from COUNT(*) exactly
# as the engine derives it from corpus_row_count (bb = GREATEST(4,
# LENGTH(bin(n-1)) - 7); grid = {GREATEST(2, bb-2), bb, bb+2}), so the
# oracle stays the engine's twin at ANY corpus size. One projection at
# the max width (4*(bb+2) global hyperplane bits, md5(bit || '_' ||
# pos) — identical to _signlsh_band_ctes' convention); each config
# slices its first 4*w bits into 4 contiguous bands, exactly how
# similarity.signlsh_band_candidates(n_bands=4, band_bits=w) numbers
# them. found = truth ∩ cand (the verifier applies truth's own exact
# cosine rule, so the intersection IS the verified probe hits). chosen
# = cheapest log2 cost BUCKET (LENGTH(bin(n_candidates))) clearing the
# 0.45 integer floor, bucket ties to the narrower width; else max
# recall. Winner selection is ORDER BY ... LIMIT 1 on integer /
# pre-rounded keys (q197 argmin convention), so the tie order is
# engine-exact.
ORACLE["q289_lsh_sizing_tuner"] = f"""
    WITH cfg AS (SELECT GREATEST(4, LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) - 7)
                            AS bb
                 FROM embeddings),
    widths AS (SELECT DISTINCT unnest([GREATEST(2, bb - 2), bb, bb + 2]) AS w
               FROM cfg),
    e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
    norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
              FROM e GROUP BY vec_id),
    dots AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                    SUM(CAST(a.v * b.v AS DECIMAL(38,25))) AS dot
             FROM e a JOIN e b ON b.pos = a.pos AND a.vec_id < b.vec_id
             WHERE a.vec_id < 64
             GROUP BY 1, 2),
    truth AS (SELECT id1, id2
              FROM (SELECT d.id1, d.id2,
                           {_SCORE.format(dot="d.dot", n1="na.n2", n2="nb.n2")}
                               AS cosine
                    FROM dots d
                    JOIN norms na ON na.vec_id = d.id1
                    JOIN norms nb ON nb.vec_id = d.id2)
              WHERE cosine >= 0.35),
    bitdim AS (SELECT unnest(range(0, 4 * (bb + 2))) AS bit FROM cfg),
    proj AS (SELECT vec_id, bit,
                    SUM(CAST((CASE WHEN substr(md5(bit || '_' || pos), 1, 1) >= '8'
                                   THEN 1.0 ELSE -1.0 END) * v AS DECIMAL(38,25))) AS p
             FROM e CROSS JOIN bitdim
             GROUP BY vec_id, bit),
    buckets AS (SELECT vec_id,
                       string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END,
                                  '' ORDER BY bit) AS bucket
                FROM proj GROUP BY vec_id),
    bands AS (SELECT w.w, bu.vec_id, bi.band_idx,
                     substr(bu.bucket, bi.band_idx * w.w + 1, w.w) AS band_val
              FROM buckets bu
              CROSS JOIN widths w
              CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) bi),
    cand AS (SELECT DISTINCT a.w, a.vec_id AS id1, b.vec_id AS id2
             FROM bands a JOIN bands b
               ON a.w = b.w AND a.band_idx = b.band_idx
              AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
    ncand AS (SELECT w, COUNT(*) AS n_candidates FROM cand GROUP BY w),
    found AS (SELECT c.w, COUNT(*) AS n_found
              FROM cand c JOIN truth t ON t.id1 = c.id1 AND t.id2 = c.id2
              GROUP BY c.w),
    ntrue AS (SELECT COUNT(*) AS n_true FROM truth),
    -- grid drives from the widths CTE (not ncand), so a config whose
    -- banding yields ZERO candidates still emits its row with
    -- n_candidates = 0 — mirroring the engine's counts.crossJoin(n_cand)
    -- which always materializes all grid cells (ADVICE r11 #1).
    grid AS (SELECT 'bands4x' || w.w AS config,
                    CAST(w.w AS INT) AS band_bits,
                    CASE WHEN w.w = c.bb THEN 1 ELSE 0 END AS derived,
                    COALESCE(n.n_candidates, 0) AS n_candidates, t.n_true,
                    COALESCE(f.n_found, 0) AS n_found,
                    ROUND(CAST(COALESCE(f.n_found, 0) AS DOUBLE)
                          / t.n_true, 6) AS recall,
                    CASE WHEN 20 * COALESCE(f.n_found, 0) >= 9 * t.n_true
                         THEN 1 ELSE 0 END AS meets_floor
             FROM widths w
             CROSS JOIN ntrue t
             CROSS JOIN cfg c
             LEFT JOIN ncand n ON n.w = w.w
             LEFT JOIN found f ON f.w = w.w),
    win AS (SELECT config FROM grid
            ORDER BY meets_floor DESC,
                     CASE WHEN meets_floor = 1
                          THEN CAST(LENGTH(bin(n_candidates)) AS DOUBLE)
                          ELSE -recall END,
                     band_bits
            LIMIT 1)
    SELECT g.config, g.band_bits, g.derived,
           CAST(g.n_candidates AS BIGINT) AS n_candidates,
           CAST(g.n_true AS BIGINT) AS n_true,
           CAST(g.n_found AS BIGINT) AS n_found,
           g.recall, g.meets_floor,
           CASE WHEN w.config IS NOT NULL THEN 1 ELSE 0 END AS chosen
    FROM grid g LEFT JOIN win w ON w.config = g.config
"""

# q297: the IVF tuner's exact twin. gcfg derives the SAME grid the
# engine builds — nlist0 = 1 << _IVF_LOG2_NLIST_SQL (the
# scaled_ivf_nlist twin), cells {GREATEST(16, nlist0//2), nlist0,
# 2·nlist0} each with np = GREATEST(2, log2(nlist) − 2) (power-of-two
# nlist, so log2 = LENGTH(bin(nlist−1))) — from COUNT(*) at oracle
# runtime, so the twin holds at any corpus size. One centroid scoring
# pass at MAX(nlist) ranked per cell by a (nlist, vid)-partitioned
# window over cid < nlist — the window-over-subset IS the engine's
# filtered-prefix slice of its widest sorted array (array filter keeps
# score order). truth / re-rank reuse the q30 decimal-exact _SCORE.
# grid drives from gcfg with LEFT JOINs + COALESCE (the ADVICE r11 #1
# zero-candidates discipline, applied from birth). Winner = ORDER BY
# ... LIMIT 1 on integer/pre-rounded keys (q197 argmin convention),
# bucket ties to the SMALLER nlist.
ORACLE["q297_ivf_sizing_tuner"] = f"""
    WITH cfg AS (SELECT {_IVF_LOG2_NLIST_SQL} AS l0 FROM embeddings),
    gcfg AS (SELECT nlist, GREATEST(2, LENGTH(bin(nlist - 1)) - 2) AS np
             FROM (SELECT DISTINCT
                          unnest([GREATEST(16, ((1 << l0) // 2)),
                                  (1 << l0), 2 * (1 << l0)]) AS nlist
                   FROM cfg)),
    e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
    norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
              FROM e GROUP BY vec_id),
    adots AS (SELECT e.vec_id AS vid, c.vec_id AS cid,
                     CAST(SUM(CAST(e.v * c.v AS DECIMAL(38,25)))
                          AS DOUBLE) AS dot
              FROM e JOIN e c ON c.pos = e.pos
               AND c.vec_id < (SELECT MAX(nlist) FROM gcfg)
              GROUP BY e.vec_id, c.vec_id),
    -- double probe ranking, the q30/q60 convention (r12 flip)
    cscore AS (SELECT a.vid, a.cid,
                      a.dot / (sqrt(CAST(nv.n2 AS DOUBLE))
                               * sqrt(CAST(nc.n2 AS DOUBLE))) AS cs
               FROM adots a
               JOIN norms nv ON nv.vec_id = a.vid
               JOIN norms nc ON nc.vec_id = a.cid),
    ranked_cent AS (
        SELECT g.nlist, g.np, s.vid, s.cid,
               ROW_NUMBER() OVER (PARTITION BY g.nlist, s.vid
                                  ORDER BY s.cs DESC, s.cid) AS crn
        FROM cscore s JOIN gcfg g ON s.cid < g.nlist),
    assign AS (SELECT nlist, vid AS cand_id, cid
               FROM ranked_cent WHERE crn = 1),
    probes AS (SELECT nlist, np, vid AS qid, cid FROM ranked_cent
               WHERE crn <= np AND vid < 64),
    cands AS (SELECT p.nlist, p.qid, a.cand_id
              FROM probes p
              JOIN assign a ON a.nlist = p.nlist AND a.cid = p.cid
              WHERE p.qid <> a.cand_id),
    ncand AS (SELECT nlist, COUNT(*) AS n_candidates
              FROM cands GROUP BY nlist),
    tdots AS (SELECT q.vec_id AS qid, c.vec_id AS cid2,
                     SUM(CAST(q.v * c.v AS DECIMAL(38,25))) AS dot
              FROM e q JOIN e c ON c.pos = q.pos AND c.vec_id <> q.vec_id
              WHERE q.vec_id < 64
              GROUP BY 1, 2),
    truth AS (SELECT qid, cid2 FROM (
                SELECT d.qid, d.cid2,
                       ROW_NUMBER() OVER (
                           PARTITION BY d.qid
                           ORDER BY {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nc.n2")} DESC,
                                    d.cid2) AS trn
                FROM tdots d
                JOIN norms nq ON nq.vec_id = d.qid
                JOIN norms nc ON nc.vec_id = d.cid2)
              WHERE trn <= 3),
    cdots AS (SELECT c.nlist, c.qid, c.cand_id,
                     SUM(CAST(qe.v * ce.v AS DECIMAL(38,25))) AS dot
              FROM cands c
              JOIN e qe ON qe.vec_id = c.qid
              JOIN e ce ON ce.vec_id = c.cand_id AND ce.pos = qe.pos
              GROUP BY 1, 2, 3),
    annk AS (SELECT nlist, qid, cand_id FROM (
               SELECT d.nlist, d.qid, d.cand_id,
                      ROW_NUMBER() OVER (
                          PARTITION BY d.nlist, d.qid
                          ORDER BY {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nc.n2")} DESC,
                                   d.cand_id) AS rn
               FROM cdots d
               JOIN norms nq ON nq.vec_id = d.qid
               JOIN norms nc ON nc.vec_id = d.cand_id)
             WHERE rn <= 3),
    hits AS (SELECT a.nlist, COUNT(*) AS n_found
             FROM annk a
             JOIN truth t ON t.qid = a.qid AND t.cid2 = a.cand_id
             GROUP BY a.nlist),
    ntrue AS (SELECT COUNT(*) AS n_true FROM truth),
    grid AS (SELECT 'ivf' || g.nlist || 'x' || g.np AS config,
                    CAST(g.nlist AS INT) AS nlist,
                    CAST(g.np AS INT) AS n_probe,
                    CASE WHEN g.nlist = (1 << c.l0) THEN 1 ELSE 0 END
                        AS derived,
                    COALESCE(n.n_candidates, 0) AS n_candidates,
                    t.n_true,
                    COALESCE(h.n_found, 0) AS n_found,
                    ROUND(CAST(COALESCE(h.n_found, 0) AS DOUBLE)
                          / t.n_true, 6) AS recall,
                    CASE WHEN 20 * COALESCE(h.n_found, 0) >= 18 * t.n_true
                         THEN 1 ELSE 0 END AS meets_floor
             FROM gcfg g
             CROSS JOIN ntrue t
             CROSS JOIN cfg c
             LEFT JOIN ncand n ON n.nlist = g.nlist
             LEFT JOIN hits h ON h.nlist = g.nlist),
    win AS (SELECT config FROM grid
            ORDER BY meets_floor DESC,
                     CASE WHEN meets_floor = 1
                          THEN CAST(LENGTH(bin(n_candidates)) AS DOUBLE)
                          ELSE -recall END,
                     nlist
            LIMIT 1)
    SELECT g.config, g.nlist, g.n_probe, g.derived,
           CAST(g.n_candidates AS BIGINT) AS n_candidates,
           CAST(g.n_true AS BIGINT) AS n_true,
           CAST(g.n_found AS BIGINT) AS n_found,
           g.recall, g.meets_floor,
           CASE WHEN w.config IS NOT NULL THEN 1 ELSE 0 END AS chosen
    FROM grid g LEFT JOIN win w ON w.config = g.config
"""
