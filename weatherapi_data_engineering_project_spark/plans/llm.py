"""LLM-data-pipeline queries: text analysis, dedup, similarity search.

First-class engine extensions (SURVEY.md §2.I / BASELINE.json north
star) over the driver ``documents`` and ``embeddings`` tables, each
with an exact ANSI-SQL oracle twin. The heavy lifting lives in
operators/dedup.py, operators/similarity.py, functions/text.py; this
module binds them to the harness contract.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import checkpoint_tracked, persist_tracked
from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..schemas import load_table
from ._buckets import bucket_of, quantile_bounds

JACCARD_THRESHOLD = 0.4  # catches exactly the planted near-dup pairs

# q24 all-pairs guard: shingles in more docs than this are excluded from
# the Jaccard sets (df-capped Jaccard, operators/dedup.py::
# cap_shingle_doc_freq) — bounds the hot-shingle self-join blow-up.
MAX_SHINGLE_DF = 100


def q19_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats: token count, token length, punctuation
    and stopword ratios — the standard pre-training quality filters."""
    d = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", r"\s+", "")).cast("double") / n_tok
        ).alias("avg_token_len"),
        (TX.punct_count("text").cast("double") / F.length("text")).alias("punct_ratio"),
        (TX.stopword_count(toks).cast("double") / n_tok).alias("stopword_ratio"),
    )


def q20_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs the labeled lang column (confusion counts)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", TX.lang_id_heuristic("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q21_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: total tokens + distinct vocab."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("source", F.explode(TX.tokens("text")).alias("w"))
    return ex.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens_total"),
        F.countDistinct("w").alias("vocab_size"),
    )


def q22_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text + collision count."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fp")
    return (
        d.select("doc_id", TX.fingerprint("text").alias("fp"))
        .withColumn("n_same", F.count(F.lit(1)).over(w))
    )


def q23_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: min-id representative per content fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    return DD.exact_dedup(d, "text", "doc_id")


def q24_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard near-dup pairs — the all-pairs
    differential baseline for q25, df-capped so a hot shingle can't
    make the self-join quadratic in corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return DD.jaccard_pairs(
        d, "text", "doc_id", JACCARD_THRESHOLD, max_doc_freq=MAX_SHINGLE_DF
    )


def q25_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → md5-minhash → band → candidate
    join → exact Jaccard verify (the 100 TB-scale dedup path). Band
    depth is CORPUS-DERIVED (dedup.scaled_rows_per_band, r = 2 here;
    oracle twin minhash_pairs_sql_scaled derives the same r from
    COUNT(*)); q288 audits the pinned r = 2 recall and q290's grid
    tuner measures the cost/recall trade per depth."""
    d = load_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(d, "text", "doc_id", JACCARD_THRESHOLD)


def q288_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the PINNED 8-hash × 4-band (r = 2) MinHash
    banding against exact brute-force Jaccard truth — the text-side twin of
    q287's embedding-LSH audit, and the measurement a dedup deployment
    runs before trusting banded MinHash at a new threshold. Output per
    Jaccard band: n_true, n_found, recall (found ⊆ true by
    construction — the verifier applies the same exact-Jaccard rule).

    Truth is PROBE-bounded (pairs whose smaller doc_id < 64): probe
    shingles join corpus shingles, per-pair intersection counts, and
    every threshold/band compare is pure integer arithmetic
    (5·inter ≥ 2·union for θ = 0.4; 10·inter ≥ 7·union / 2·inter ≥
    union for the 0.7/0.5 band edges) — no float ratio ever crosses an
    engine boundary. Any pair at Jaccard ≥ 0.4 shares a shingle, so
    the shingle join loses nothing. Scale: probes × corpus, never
    corpus²; the found side is the real q25 pipeline shape with
    rows_per_band pinned at 2 — the fixed-width comparator role (q287
    convention); q25 itself derives the width from the corpus
    (dedup.scaled_rows_per_band) and q290's grid prices each r."""
    from ..caching import persist_tracked

    d = load_table(spark, sf_dir, "documents")
    ex = persist_tracked(DD.shingle_sets(d, "text", "doc_id"))
    pex = ex.select(
        F.col("doc").alias("id1"),
        F.col("n_sh").alias("n1"),
        "shingle",
    ).filter(F.col("id1") < 64)
    cex = ex.select(
        F.col("doc").alias("id2"), F.col("n_sh").alias("n2"), "shingle"
    )
    inter = (
        pex.join(cex, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("n1").alias("n1"),
            F.min("n2").alias("n2"),
        )
    )
    u = F.col("n1") + F.col("n2") - F.col("inter")
    band = (
        F.when(10 * F.col("inter") >= 7 * u, F.lit("high_0.70+"))
        .when(2 * F.col("inter") >= u, F.lit("mid_0.50"))
        .otherwise(F.lit("low_0.40"))
    )
    truth = inter.filter(5 * F.col("inter") >= 2 * u).select(
        "id1", "id2", band.alias("jac_band")
    )
    found = (
        DD.minhash_lsh_pairs(
            d, "text", "doc_id", JACCARD_THRESHOLD, rows_per_band=2
        )
        .filter(F.col("id1") < 64)
        .select("id1", "id2", F.lit(1).alias("hit"))
    )
    return (
        truth.join(found, ["id1", "id2"], "left")
        .groupBy("jac_band")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("hit").alias("n_found"),
        )
        .select(
            "jac_band",
            "n_true",
            "n_found",
            F.round(F.col("n_found") / F.col("n_true"), 6).alias("recall"),
        )
    )


def q290_minhash_sizing_tuner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band-depth AUTO-TUNER — q289's text-side twin (VERDICT
    r09 #6; grid derived-centered per VERDICT r10 #4). The grid TRACKS
    the derived depth — 4 bands × r ∈ {max(1, r₀−1), r₀, r₀+1} hashes
    where r₀ = scaled_rows_per_band(corpus_row_count) — so the tuner
    stays informative at ANY corpus size (a pinned {2, 3} grid is
    blind at 2·10⁹ docs where the rule gives 8). Per depth it MEASURES
    candidate mass (distinct banded pairs — the n²·J_bg^r term
    dedup.scaled_rows_per_band exists to bound) and probe-bounded
    recall vs exact shingle-Jaccard truth (q288's integer
    construction: truth at 5·inter ≥ 2·union; found = truth ∩ banded
    candidates, since the verifier applies the same exact rule).
    Chosen = cheapest log2 cost BUCKET (LENGTH(bin(n_candidates)) —
    sub-2× mass differences are sampling noise next to a recall step)
    clearing the 0.45 integer recall floor (20·n_found ≥ 9·n_true),
    bucket ties to the SHALLOWER depth (recall margin, the production
    rule's conservatism), else max recall. derived ∈ {0,1} marks the
    rule's own depth; chosen == derived at sf0.01 is the rule's
    self-consistency check (pinned in tests). q25's default depth is
    the zero-cost log(n) approximation of this measurement.

    Scale: truth is probe-bounded (64 probes × corpus shingles); each
    grid cell is one signature agg + one band equi-join + counts; the
    winner is a 3-row TakeOrderedAndProject joined back broadcast."""
    from ..caching import persist_tracked
    from ..operators.similarity import corpus_row_count

    d = load_table(spark, sf_dir, "documents")
    r0 = DD.scaled_rows_per_band(corpus_row_count(d))
    grid_depths = sorted({max(1, r0 - 1), r0, r0 + 1})
    ex = persist_tracked(DD.shingle_sets(d, "text", "doc_id"))
    pex = ex.select(
        F.col("doc").alias("id1"), F.col("n_sh").alias("n1"), "shingle"
    ).filter(F.col("id1") < 64)
    cex = ex.select(
        F.col("doc").alias("id2"), F.col("n_sh").alias("n2"), "shingle"
    )
    inter = (
        pex.join(cex, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("n1").alias("n1"),
            F.min("n2").alias("n2"),
        )
    )
    u = F.col("n1") + F.col("n2") - F.col("inter")
    truth = persist_tracked(
        inter.filter(5 * F.col("inter") >= 2 * u).select("id1", "id2")
    )
    # ONE signature aggregation at the deepest config (hash indices are
    # depth-stable: depth r bands over sig0..sig(4r−1), a column subset
    # of the max-depth signatures) — saves |grid|−1 min-agg passes over
    # the exploded shingles
    sigs_max = persist_tracked(
        DD.minhash_signatures_from_shingles(ex, 4 * grid_depths[-1])
    )
    rows = []
    for r in grid_depths:
        n_hashes = 4 * r
        cands = persist_tracked(
            DD.minhash_band_candidates(
                sigs_max, n_bands=4, n_hashes=n_hashes
            )
        )
        n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
        found = cands.filter(F.col("id1") < 64).select(
            "id1", "id2", F.lit(1).alias("hit")
        )
        counts = truth.join(found, ["id1", "id2"], "left").agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("hit").alias("n_found"),
        )
        rows.append(
            counts.crossJoin(F.broadcast(n_cand)).select(
                F.lit(f"bands4x{r}").alias("config"),
                F.lit(r).alias("rows_per_band"),
                F.lit(1 if r == r0 else 0).alias("derived"),
                "n_candidates",
                "n_true",
                "n_found",
                F.round(F.col("n_found") / F.col("n_true"), 6).alias(
                    "recall"
                ),
            )
        )
    grid = persist_tracked(
        reduce(lambda a, b: a.unionByName(b), rows).select(
            "*",
            F.when(20 * F.col("n_found") >= 9 * F.col("n_true"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("meets_floor"),
        )
    )
    winner = (
        grid.orderBy(
            F.col("meets_floor").desc(),
            F.when(
                F.col("meets_floor") == 1,
                F.length(F.bin(F.col("n_candidates"))).cast("double"),
            ).otherwise(-F.col("recall")),
            F.col("rows_per_band"),
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
        "rows_per_band",
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


def q296_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q28 with the STOP-BUCKET cap — the action the q295 skew audit
    and the r11 candidate-mass curve point at. Hot (band_idx, band_val)
    buckets above the derived cap 2·⌈n/2^w⌉
    (dedup.scaled_stop_bucket_cap — twice the uniform expected
    occupancy) are dropped from candidate generation: a bucket of size
    c costs C(c,2) pairs while its band value is effectively a
    stopword of the fingerprint space, and a pair dropped there is
    still found through any of its other 3 bands, so recall degrades
    gracefully (the q28-vs-q296 diff at any scale IS the price — pairs
    whose EVERY matching band is hot). Deterministic and
    oracle-replicable: the cap is a filter on the bucket histogram,
    not sampling."""
    from ..operators.dedup import (
        scaled_simhash_band_bits,
        scaled_stop_bucket_cap,
    )
    from ..operators.similarity import corpus_row_count

    d = load_table(spark, sf_dir, "documents")
    n = corpus_row_count(d)
    w = scaled_simhash_band_bits(n)
    return DD.simhash_pairs(
        d, "text", "doc_id", max_hamming=6,
        max_bucket_size=scaled_stop_bucket_cap(n, w),
    )


def _simhash_recall_audit(
    spark: SparkSession, sf_dir: str, capped: bool
) -> DataFrame:
    """Shared body of q294 (uncapped) and q298 (stop-bucket-capped):
    per-hamming-distance banding recall vs probe-bounded brute truth.
    With ``capped``, candidate generation drops band buckets above the
    derived cap 2·⌈n/2^w⌉ before the band join — exactly
    simhash_pairs(max_bucket_size=scaled_stop_bucket_cap(...))'s
    filter, so q298 prices the recall the cap costs at each exact
    hamming distance. Truth is IDENTICAL on both paths (brute
    hamming, no banding) — only `found` changes."""
    from functools import reduce as _reduce

    from ..operators.dedup import (
        N_SIM_BANDS,
        scaled_simhash_band_bits,
        scaled_stop_bucket_cap,
        simhash_signatures,
    )
    from ..operators.similarity import corpus_row_count

    d = load_table(spark, sf_dir, "documents")
    n = corpus_row_count(d)
    w = scaled_simhash_band_bits(n)
    n_bits = N_SIM_BANDS * w
    sigs = persist_tracked(
        simhash_signatures(d, "text", "doc_id", n_bits=n_bits)
    )
    probes = F.broadcast(
        sigs.filter(F.col("doc") < 64).select(
            F.col("doc").alias("id1"), F.col("bits").alias("bits1")
        )
    )
    corpus = sigs.select(
        F.col("doc").alias("id2"), F.col("bits").alias("bits2")
    )
    ham = _reduce(
        lambda x, y: x + y,
        [
            F.when(
                F.substring("bits1", i + 1, 1)
                != F.substring("bits2", i + 1, 1),
                F.lit(1),
            ).otherwise(F.lit(0))
            for i in range(n_bits)
        ],
    )
    truth = persist_tracked(
        probes.crossJoin(corpus)
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", ham.alias("hamming"))
        .filter(F.col("hamming") <= 6)
    )
    band_arr = F.array(
        *[F.substring("bits", b * w + 1, w) for b in range(N_SIM_BANDS)]
    )
    bands = sigs.select(
        "doc", F.posexplode(band_arr).alias("band_idx", "band_val")
    )
    if capped:
        cap = scaled_stop_bucket_cap(n, w)
        keep = (
            bands.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") <= cap)
            .select("band_idx", "band_val")
        )
        bands = bands.join(keep, ["band_idx", "band_val"], "left_semi")
    cand = (
        bands.select(F.col("doc").alias("id1"), "band_idx", "band_val")
        .join(
            bands.select(F.col("doc").alias("id2"), "band_idx", "band_val"),
            ["band_idx", "band_val"],
        )
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
        .select("id1", "id2", F.lit(1).alias("hit"))
    )
    return (
        truth.join(cand, ["id1", "id2"], "left")
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("hit").alias("n_found"),
        )
        .select(
            "hamming",
            "n_true",
            "n_found",
            F.round(F.col("n_found") / F.col("n_true"), 6).alias("recall"),
        )
    )


def q294_simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding recall audit — q287/q288's third sibling (those
    price sign-LSH and MinHash banding; SimHash's recall price was the
    one unmeasured LSH surface after r11 derived its width). Truth is
    probe-bounded brute force: for probe docs (doc_id < 64), ALL pairs
    with fingerprint hamming ≤ 6 computed WITHOUT banding (64 × N
    hamming comparisons over the derived-width fingerprints — linear,
    never N²). Found = the banded candidate pairs among them. Output
    per exact hamming distance: n_true, n_found, recall — which makes
    the pigeonhole boundary VISIBLE: with 4 bands, every pair at
    hamming ≤ 3 must collide on some band (recall 1.0 by construction,
    asserted in tests); at 4–6 the banding is probabilistic and this
    audit is the measurement.

    Scale shape: signatures are the same one-groupBy reduction q28
    uses (shuffle carries n_bits ints per doc); truth is a broadcast
    of 64 probe fingerprints against the corpus; the banded candidates
    are an equi-join on (band_idx, band_val). The fingerprint frame is
    persisted once and feeds probes, truth, and bands."""
    return _simhash_recall_audit(spark, sf_dir, capped=False)


def q298_simhash_capped_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q294 WITH the stop-bucket cap — the recall side of the q296
    decision (VERDICT r11 #3): candidate generation drops band buckets
    above the derived cap 2·⌈n/2^w⌉ (q296's filter), truth stays the
    same brute-force hamming set, so each row prices what the cap
    costs at that exact hamming distance. The pigeonhole guarantee
    (recall 1.0 at hamming ≤ 3) does NOT survive the cap — a pair
    whose every shared band is a stop-bucket is lost — but a hot
    bucket carries almost no near-dup signal, so the measured price
    stays near zero at low hamming (pinned loosely in tests; measured
    at 10×/100× in BENCH_SCALE100_r12)."""
    return _simhash_recall_audit(spark, sf_dir, capped=True)


def q295_simhash_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash band-bucket SKEW audit — the instrument behind round
    11's curve finding (BENCH_SCALE_r11.json::simhash_candidate_mass):
    the width rule sizes for ~uniform buckets (expected occupancy
    n/2^w ≤ 128), but SimHash band values on natural text are
    CORRELATED bits, so real buckets are skewed and the measured
    collision mass ran 5× the uniform estimate at 10× docs (41 →
    204/doc). This query measures that skew per band from the bucket
    histogram — exact integer arithmetic, O(n), no pair
    materialization (the same sum-of-C(c,2) trick that let the curve
    state the fixed-32 width's 2.0B-collision mass without OOMing):

      band_idx, n_buckets, max_bucket (the hot-bucket size a stop-
      bucket cap would act on), collision_mass = Σ C(c,2), and
      skew_vs_uniform = mass / the uniform-occupancy mass C(n,2)/2^w
      (rounded; > 1 quantifies how much the correlated bits cost over
      the rule's assumption).

    At 100 TB this is the pre-flight check before running q28: a
    band whose max_bucket ≫ 128 names the stop-bucket to cap or the
    extra bits to add — AQE's skew-join split keeps the JOIN stages
    balanced, but no join strategy un-quadratics a hot bucket's
    candidate mass."""
    from ..operators.dedup import (
        N_SIM_BANDS,
        scaled_simhash_band_bits,
        simhash_signatures,
    )
    from ..operators.similarity import corpus_row_count

    d = load_table(spark, sf_dir, "documents")
    n = corpus_row_count(d)
    w = scaled_simhash_band_bits(n)
    sigs = simhash_signatures(d, "text", "doc_id", n_bits=N_SIM_BANDS * w)
    band_arr = F.array(
        *[F.substring("bits", b * w + 1, w) for b in range(N_SIM_BANDS)]
    )
    bands = sigs.select(
        "doc", F.posexplode(band_arr).alias("band_idx", "band_val")
    )
    buckets = bands.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("c")
    )
    # `div` is Spark's integer division — `/` is double division and
    # loses exactness once c*(c-1) exceeds 2^53 (bucket ≳1.3e8 docs);
    # the oracle's `//` twin is exact at any bucket size (ADVICE r11 #2)
    mass = F.expr("c * (c - 1) div 2")
    # uniform-occupancy mass per band: C(n_sig, 2) / 2^w, with n_sig
    # the number of fingerprinted docs (zero-shingle docs drop out of
    # the signature pipeline on both engines)
    n_sig = F.sum("c")  # each band partitions the fingerprinted docs
    per_band = buckets.groupBy("band_idx").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("c").alias("max_bucket"),
        F.sum(mass).alias("collision_mass"),
        (
            (n_sig * (n_sig - 1) / 2) / F.pow(F.lit(2.0), F.lit(w))
        ).alias("uniform_mass"),
    )
    return per_band.select(
        "band_idx",
        "n_buckets",
        "max_bucket",
        "collision_mass",
        F.round(F.col("collision_mass") / F.col("uniform_mass"), 6).alias(
            "skew_vs_uniform"
        ),
    )


CONTAINMENT_THRESHOLD = 0.6  # containment >= jaccard, so this widens q25


def q123_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: df-capped shingle-blocked
    candidates scored with the Broder containment coefficient BOTH
    ways (|A∩B|/|A| and /|B|) — catches a short doc embedded in a
    longer one, which symmetric Jaccard (q24/q25) structurally cannot
    see and Jaccard-tuned LSH banding cannot even propose
    (operators/dedup.py::containment_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.containment_pairs(
        d, "text", "doc_id", CONTAINMENT_THRESHOLD,
        max_doc_freq=MAX_SHINGLE_DF,
    )


def q141_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup accounting: what exact dedup (q23's min-id
    keep rule over the q22 content fingerprint) would save, in
    documents AND tokens — the number a curation pipeline quotes
    before paying for the dedup pass ("source X is 30% duplicate
    tokens"). Duplicate groups may span sources; the keeper is global
    (smallest doc_id), so a source holding only the copies loses all
    of them — exactly how a global dedup behaves.

    Scale shape: fingerprints + token counts are row-local
    projections; the keeper is one partial-agg MIN per fingerprint
    joined back (AQE broadcasts it when small); the rollup is one
    partial agg per source. Integer-exact until the final rounded
    savings rate."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        TX.fingerprint("text").alias("fp"),
        TX.token_count("text").alias("n_tok"),
    )
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    flagged = fp.join(keep, "fp").select(
        "source",
        "n_tok",
        (F.col("doc_id") != F.col("keeper")).cast("long").alias("dropped"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("dropped").alias("n_dropped_docs"),
        F.sum(F.col("dropped") * F.col("n_tok")).alias("n_dropped_tokens"),
        F.round(
            F.sum(F.col("dropped") * F.col("n_tok")).cast("double")
            / F.sum("n_tok").cast("double"),
            6,
        ).alias("token_savings_rate"),
    )


def q149_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join at shingle-set Jaccard ≥ 1/2 via PREFIX
    FILTERING (AllPairs/SSJoin) — lossless-at-threshold candidate
    generation, algorithmically distinct from MinHash banding (q25)
    and df-capped blocking (q24/q123): rarest-first token prefixes
    must collide for any qualifying pair, by pigeonhole
    (operators/dedup.py::prefix_filter_pairs). Threshold compare is
    the integer 3·inter ≥ n1 + n2."""
    d = load_table(spark, sf_dir, "documents")
    return DD.prefix_filter_pairs(d, "text", "doc_id")


INCREMENTAL_SPLIT = 400  # docs ≥ this are the "arriving batch"


def q71_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch-vs-corpus) near-dup: docs with id ≥ 400
    play the arriving batch, the rest the indexed corpus — only cross
    pairs are banded, candidate-joined, and Jaccard-verified, the shape
    whose cost tracks the DAY's data, not the corpus history
    (operators/dedup.py::incremental_neardup_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.incremental_neardup_pairs(
        d.filter(F.col("doc_id") >= INCREMENTAL_SPLIT),
        d.filter(F.col("doc_id") < INCREMENTAL_SPLIT),
        "text",
        "doc_id",
        JACCARD_THRESHOLD,
    )


def q26_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 to the vec_id=0 embedding."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(e, query_id=0, k=10)


def q201_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction over the embedding column: each probe
    (vec_id < 24) is classified by majority vote among its k=5 nearest
    corpus vectors (cosine, rounded-6 + id tiebreak — the q26 exact
    ranking), votes tie-broken to the smallest label. The supervised
    twin of the ANN family: label propagation for weak supervision,
    embedding-quality probes ("does the space separate labels?"), and
    the classifier evaluations a training-data pipeline runs before
    spending GPU time. Output: one row per probe — true label,
    predicted label, vote count, correctness.

    Scale shape: probes are a bounded broadcast (24 rows); scoring is
    a row-local decimal dot against each broadcast probe (norms
    projected ONCE on the corpus side before the join — no per-pair
    norm recompute); ranking is a probe-keyed window over the scored
    frame (parallel across probes, never a global window). For probe
    sets that grow with the corpus, the candidate stage swaps to the
    q27/q30 bucketed paths; the brute scorer here is the exactness
    baseline the bucketed variants are measured against (q103)."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qvec"),
        SIM._norm2_array(F.col("embedding")).alias("qn2"),
    )
    corpus = SIM._ensure_parallelism(
        e.filter(F.col("vec_id") >= 24)
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("cand_label"),
        "embedding",
        SIM._norm2_array(F.col("embedding")).alias("cn2"),
    )
    # top-5 via the shared prefiltered brute truth-builder (late r12):
    # exact_brute_topk's double top-k (+margin) prefilter makes the
    # interpreted decimal fold a per-survivor cost instead of
    # corpus×probes — provably the same top-5 set (its docstring), so
    # the votes below are unchanged; labels rejoin on the tiny result.
    # Measured trade: ~+0.3s at sf0.1 (extra window/join stages) for a
    # decimal cost that stops growing with the corpus — the scoring
    # term was this query's only corpus-proportional interpreted work.
    top = SIM.exact_brute_topk(
        probes.select("qid", "qvec", "qn2"),
        corpus.select(
            "cid", F.col("embedding").alias("cvec"), "cn2"
        ),
        5,
        "qid",
        "cid",
    )
    votes = (
        top.join(F.broadcast(probes.select("qid", "true_label")), "qid")
        .join(corpus.select("cid", "cand_label"), "cid")
        .groupBy("qid", "true_label", "cand_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("cand_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "qid",
            "true_label",
            F.col("cand_label").alias("predicted_label"),
            "n_votes",
            (F.col("cand_label") == F.col("true_label")).alias("correct"),
        )
    )


# q223's per-language PSI contribution between the pre- and post-dedup
# corpus mix: (p_post − p_pre)·ln(p_post/p_pre) from exact integer
# counts, rounded to 9 (q124 convention). Both shares are positive
# whenever the language survives dedup; a vanished language is flagged
# instead of contributing an infinity.
_DEDUP_PSI = (
    "CASE WHEN n_post > 0 THEN CAST(ROUND("
    "(CAST(n_post AS DOUBLE) / CAST(t_post AS DOUBLE)"
    " - CAST(n_pre AS DOUBLE) / CAST(t_pre AS DOUBLE))"
    " * ln((CAST(n_post AS DOUBLE) / CAST(t_post AS DOUBLE))"
    " / (CAST(n_pre AS DOUBLE) / CAST(t_pre AS DOUBLE))), 9)"
    " AS DECIMAL(18,9)) ELSE NULL END"
)


def q223_dedup_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-bias audit of exact dedup: does dropping duplicate
    documents SHIFT the corpus's language mix? Dedup is supposed to
    remove redundancy, not re-weight populations — but duplicates
    cluster by origin (mirrored English boilerplate dedups away faster
    than long-tail languages), so the post-dedup distribution drifts,
    and a model trained on it inherits the shift. Per language: pre-
    and post-dedup counts and shares, plus the language's PSI
    contribution to the mix shift (the q151 measure applied to
    dedup's own output). Keep rule is q23's: first doc_id per exact
    md5 fingerprint. Output: one row per language.

    Scale shape: fingerprints shuffle 32-char md5s, never bodies (the
    q23 discipline); the keep-set is a fingerprint-keyed min; pre/post
    counts are two partial aggs onto the ≤|langs| frame; totals
    broadcast as one row."""
    d = load_table(spark, sf_dir, "documents")
    kept = (
        d.select("doc_id", "lang", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    post = (
        d.join(kept, d.doc_id == kept.keep_id, "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_post"))
    )
    pre = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_pre"))
    g = pre.join(post, "lang", "left").fillna(0, subset=["n_post"])
    tot = g.agg(
        F.sum("n_pre").alias("t_pre"), F.sum("n_post").alias("t_post")
    )
    j = g.crossJoin(F.broadcast(tot))
    return j.select(
        "lang",
        "n_pre",
        "n_post",
        F.expr(
            "ROUND(CAST(n_pre AS DOUBLE) / CAST(t_pre AS DOUBLE), 6)"
        ).alias("share_pre"),
        F.expr(
            "ROUND(CAST(n_post AS DOUBLE) / CAST(t_post AS DOUBLE), 6)"
        ).alias("share_post"),
        F.expr(f"CAST({_DEDUP_PSI} AS DOUBLE)").alias("psi_contrib"),
        (F.col("n_post") == 0).alias("vanished"),
    )


# q222's per-dimension moment chain: exact decimal sums (the q26
# accumulation discipline) re-narrowed to (30,12) before the double
# conversion, then ONE shared formula string per output column.
_DIM_SV = "CAST(CAST(sv AS DECIMAL(30,12)) AS DOUBLE)"
_DIM_SV2 = "CAST(CAST(sv2 AS DECIMAL(30,12)) AS DOUBLE)"
_DIM_MEAN = f"ROUND({_DIM_SV} / CAST(n AS DOUBLE), 6)"
_DIM_VAR = (
    f"ROUND((CAST(n AS DOUBLE) * {_DIM_SV2} - {_DIM_SV} * {_DIM_SV})"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6)"
)


def q222_dimension_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding-space audit: mean and variance of every
    coordinate across the corpus — the dimension-collapse / bias check
    run before trusting ANY cosine-based operator (a near-zero-
    variance dimension is wasted capacity and silently shrinks
    effective dimensionality; a large |mean| makes cosine scores
    anisotropic). Output: one row per dimension — n, mean, variance,
    and the collapse flag (rounded variance < 1e-4, compared on the
    shared rounded value so both engines agree).

    Scale shape: posexplode is a row-local fan-out feeding ONE
    (dimension) partial-agg shuffle onto a dim-count-sized frame;
    coordinate sums accumulate in exact decimal (q26 discipline) so
    any partitioning yields the same bits."""
    e = load_table(spark, sf_dir, "embeddings")
    coords = SIM._ensure_parallelism(e).select(
        F.posexplode("embedding").alias("pos", "v")
    ).select("pos", F.col("v").cast("double").alias("v"))
    vd = F.col("v").cast("decimal(38,25)")
    g = coords.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).alias("sv"),
        F.sum(
            (F.col("v") * F.col("v")).cast("decimal(38,25)")
        ).alias("sv2"),
    )
    return g.select(
        "pos",
        F.col("n").alias("n_vecs"),
        F.expr(_DIM_MEAN).alias("mean"),
        F.expr(_DIM_VAR).alias("variance"),
        F.expr(f"{_DIM_VAR} < 0.0001").alias("collapsed"),
    )


def q27_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: top-3 same-bucket neighbors for queries
    vec_id < 20 (deterministic md5 hyperplanes). Bucket width is
    CORPUS-DERIVED (r11: max(8, ⌈log2 n⌉ − 7), occupancy ≤ 128 — a
    pinned 8-bit bucket makes per-query candidate work linear in the
    corpus); the oracle derives the same width from COUNT(*)."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.signlsh_topk(e, k=3, max_query_id=20)


def q28_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: shingle-vote fingerprint, banded candidate
    blocking, hamming <= 6 verification. Fingerprint width is
    CORPUS-DERIVED (dedup.scaled_simhash_band_bits; oracle twin
    simhash_pairs_sql_scaled) — the last fixed-width LSH surface,
    closed in r11: a pinned 32-bit/4-band blocking keeps 256 buckets
    per band forever, so false-candidate mass grows ~n²·4/256 — the
    q93 failure shape BENCH_SCALE_r09 measured at 20.5×."""
    d = load_table(spark, sf_dir, "documents")
    return DD.simhash_pairs(d, "text", "doc_id", max_hamming=6)


def q29_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded sign-LSH candidates
    + exact decimal-cosine verify >= 0.4. Band width is CORPUS-DERIVED
    (similarity.scaled_band_bits; oracle twin signlsh_pairs_sql_scaled)
    — BENCH_SCALE_r09 measured the fixed-width failure mode; q287/q289
    measure the recall/cost trade per width."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_neardup_pairs(e, threshold=0.4)


def q154_neardup_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the embedding near-dup graph (q29's edges):
    for every vector, how many near-duplicates it has — the pre-dedup
    sizing audit that predicts cluster structure BEFORE running the
    full connected-components pass (a heavy tail here means giant
    clusters and a q87-style re-split will fire; all-zeros means
    dedup will be a no-op). Degree-0 vectors are included — the
    isolated majority is the signal that most of the corpus is clean.

    Scale shape: edges are the banded-LSH verified pairs (candidates
    only, never the quadratic join); degrees are one partial-agg
    shuffle over the edge list; the left join against the full id set
    is dimension-sized and the output is one row per distinct degree."""
    e = load_table(spark, sf_dir, "embeddings")
    # persisted: BOTH unionAll branches read the pair frame, and
    # without the persist the whole band-join + two-phase verify plan
    # runs once per branch (exchange reuse does not cover the
    # post-shuffle verify projection) — r12 optimization, measured
    # ~2× the q29 wall before the fix
    pairs = persist_tracked(
        SIM.cosine_neardup_pairs(e, threshold=0.4).select("id1", "id2")
    )
    edges = pairs.select(F.col("id1").alias("id")).unionAll(
        pairs.select(F.col("id2").alias("id"))
    )
    deg = edges.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    full = (
        e.select(F.col("vec_id").alias("id"))
        .join(deg, "id", "left")
        .fillna(0, subset=["degree"])
    )
    return full.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vecs"))


# q157's clustering coefficient as ONE shared SQL chain over the three
# exact integer graph counts (q122 convention): guarded because a graph
# with no wedges leaves the coefficient undefined (and ANSI Spark would
# raise on the 0-division when evaluating partial-agg rows).
_TRI_CC = (
    "CASE WHEN n_wedges > 0 THEN"
    " ROUND(3.0 * CAST(n_triangles AS DOUBLE)"
    " / CAST(n_wedges AS DOUBLE), 6)"
    " ELSE NULL END"
)


def q157_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the embedding near-dup graph at a looser 0.25
    cosine threshold (same banded sign-LSH candidates as q29 — the
    threshold only widens the verify filter, never the candidate join):
    edge count, wedge count (paths of length 2), triangle count, and
    the global clustering coefficient 3·T/W. Transitivity is the
    structural audit q154's degrees can't see — high clustering means
    near-dup neighborhoods are genuine clusters (dedup keeps one doc
    per clique); low clustering means chains, where transitive-closure
    dedup (q47) over-merges unrelated docs through middlemen.

    Scale shape: edges stay candidate-bounded (banded LSH, verified
    survivors only, persisted once for the three consumers); wedges are
    one partial-agg over per-node degrees; the triangle join is the
    standard ordered edge-edge-edge equi-join (a < b < c, so each
    triangle counts exactly once) whose intermediate is wedge-bounded —
    all shuffles key on node ids, never on the quadratic pair space."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = persist_tracked(
        SIM.cosine_neardup_pairs(e, threshold=0.25).select(
            F.col("id1").alias("i"), F.col("id2").alias("j")
        )
    )
    deg = (
        pairs.select(F.col("i").alias("id"))
        .unionAll(pairs.select(F.col("j").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.expr("CAST(sum(d * (d - 1)) DIV 2 AS BIGINT)").alias("n_wedges")
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    tri = (
        pairs.alias("e1")
        .join(pairs.alias("e2"), F.col("e1.j") == F.col("e2.i"))
        .join(
            pairs.alias("e3"),
            (F.col("e3.i") == F.col("e1.i"))
            & (F.col("e3.j") == F.col("e2.j")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        n_edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(_TRI_CC).alias("global_clustering"),
        )
    )


def q156_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 fuzzy self-join on customer names via the
    SymSpell deletion neighborhood: every record emits its name plus
    each single-character-deletion variant; two names within Levenshtein
    distance 1 MUST share a variant (equal → identity; substitution →
    delete the differing char on both sides; insert/delete → delete the
    extra char on the longer), so the variant equi-join is a lossless
    candidate generator and the exact ``levenshtein`` verify runs on
    candidates only. The fuzzy record-linkage primitive of entity
    resolution, re-expressed as shuffle-on-variant instead of the
    quadratic compare.

    Scale shape: the blow-up is (L+1) variants per record — linear with
    a string-length constant — and the join keys on the variant string,
    so co-occurring candidates meet in one shuffle partition; the
    verifier never sees a non-candidate pair. The oracle deliberately
    uses the OTHER algorithm (length-blocked brute force), so the
    differential checks the neighborhood rule's losslessness, not just
    arithmetic parity."""
    c = load_table(spark, sf_dir, "customer")
    names = c.select(
        F.col("c_custkey").alias("ck"), F.col("c_name").alias("name")
    )
    # explode_outer + isNotNull: a plain explode of a computed array
    # re-runs the array expression as an inferred scan filter (see
    # operators/dedup.py::shingle_sets).
    var = persist_tracked(
        names.select(
            "ck",
            F.explode_outer(
                F.concat(
                    F.array(F.col("name")),
                    F.expr(
                        "transform(sequence(1, length(name)),"
                        " i -> concat(substring(name, 1, i - 1),"
                        " substring(name, i + 1, length(name))))"
                    ),
                )
            ).alias("var"),
        ).filter(F.col("var").isNotNull())
    )
    cand = (
        var.select(F.col("ck").alias("k1"), "var")
        .join(var.select(F.col("ck").alias("k2"), "var"), "var")
        .filter(F.col("k1") < F.col("k2"))
        .select("k1", "k2")
        .distinct()
    )
    return (
        cand.join(
            names.select(
                F.col("ck").alias("k1"), F.col("name").alias("name1")
            ),
            "k1",
        )
        .join(
            names.select(
                F.col("ck").alias("k2"), F.col("name").alias("name2")
            ),
            "k2",
        )
        .select(
            F.col("k1").alias("id1"),
            F.col("k2").alias("id2"),
            F.levenshtein("name1", "name2").alias("dist"),
        )
        .filter(F.col("dist") <= 1)
    )


def q30_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: corpus-derived geometry (scaled_ivf_nlist /
    scaled_ivf_nprobe — 16 lists / 2 probes at every corpus through
    2^16 vectors, √n-class beyond), double-precision probe ranking
    (the production assignment; q60's oracle has ranked probes with
    the identical formula hash-exact since r4), exact decimal top-3
    re-rank within probed lists for queries vec_id < 20. The oracle
    derives the SAME nlist/np from COUNT(*) (_IVF_CFG_CTE) and ranks
    probes with the same double formula."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(e, k=3, max_query_id=20)


def q60_ivf_kmeans_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production IVF ANN: Lloyd's k-means coarse quantizer (3 rounds,
    spherical assignment) + fast-assignment probe + decimal-exact
    re-rank. Fully oracle-verified since r4: the FIXED 3-round trainer
    unrolls into SQL CTEs (_KM_CTES) exactly like the PQ trainer — the
    REAL round-trip on each round's means reproduces the float32-
    rounded driver state, and the final candidate scores are the same
    decimal-exact _score both engines already agree on (q30). The
    quantizer's invariants are additionally pinned by
    tests/test_llm_queries.py::test_ivf_kmeans_*."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk_kmeans(e, n_iters=3, k=3, max_query_id=20)


def q73_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: per-subspace Lloyd's codebooks (driver-literal
    plans, one partial-agg shuffle per iteration), corpus encoded as m
    small codes, query scanned via a plan-literal ADC lookup table —
    the memory-resident 100 TB first pass that shortlists candidates
    for exact re-rank. Fully oracle-verified (VERDICT r03 #4): the
    FIXED n_iters=2 trainer unrolls into SQL CTEs (_PQ_CTES) — decimal
    distance sums + REAL-rounded means reproduce the float32-rounded
    codebooks exactly; the ADC arithmetic is additionally pinned by a
    NumPy differential in tests/test_llm_queries.py."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.pq_topk(e, query_id=0, k=5, m=4, k_sub=16, n_iters=2)


def q74_pq_rerank_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage production retrieval: q73's compressed-code ADC scan
    shortlists candidates, then ONLY the shortlist joins back to raw
    vectors for an exact decimal-cosine re-rank — corpus cost stays
    code-scan-shaped, exactness is restored over the survivors.
    Fully oracle-verified (shares q73's unrolled-trainer CTEs; the
    re-rank reuses the q26 decimal-cosine oracle shape); additionally
    pinned by a NumPy differential + a corpus-sized-shortlist
    equivalence to brute force in tests/test_llm_queries.py."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.pq_topk_rerank(
        e, query_id=0, k=3, shortlist=20, m=4, k_sub=16, n_iters=2
    )


def q83_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composite retrieval (FAISS IndexIVFPQ shape, no-residual
    variant): q30's deterministic literal-centroid coarse quantizer
    prunes to 2 of 16 inverted lists, q73's fixed-round PQ codes score
    the survivors via a plan-literal ADC table, global top-5 by
    TakeOrderedAndProject. Fully oracle-verified — the oracle composes
    the q30 assignment CTEs with the q73 unrolled-trainer CTEs."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivfpq_topk(e, query_id=0, k=5, m=4, k_sub=16, n_iters=2)


def q35_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents re-cast as opaque binary
    media payloads (kind round-robined image/audio/video), pushed through
    the Arrow-batched mapInPandas decode/feature kernel
    (functions/multimodal.py). Output keeps the metadata columns the
    oracle can recompute (byte length + sha256); the stub feature vector
    is exercised by unit tests."""
    from ..functions.multimodal import extract_features

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("synthetic").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return extract_features(media).select(
        "media_id", "kind", "n_bytes", "content_sha256"
    )


def q147_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path end-to-end: deterministic PCM-16 WAV
    blobs (integer sawtooth per media_id) are synthesized in one
    Arrow stage, cross the DataFrame boundary as a genuine ``binary``
    column, and a second Arrow stage PARSES the RIFF container
    byte-for-byte (functions/multimodal.py::decode_wav_pcm — chunk
    walk, PCM-16 validation, numpy frombuffer) and emits per-frame
    sum-of-squares energies. Because the samples are integers, every
    decoded feature is an exact integer the SQL oracle recomputes
    closed-form from the sawtooth definition — a byte-level codec
    round-trip with a hash-matched differential, unlike the sha256
    stub paths (q35/q59) that stand in for ffmpeg-class codecs.

    Scale shape: both stages are Arrow-batched mapInPandas with
    vectorized numpy bodies; blobs never shuffle (synthesis and decode
    pipeline within one task chain), and the output is one thin row
    per media file."""
    from ..functions.multimodal import audio_frame_energies, synth_wav_blobs

    d = load_table(spark, sf_dir, "documents")
    ids = d.select(F.col("doc_id").alias("media_id"))
    return audio_frame_energies(synth_wav_blobs(ids))


def q75_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize end-to-end: documents re-cast as image blobs
    with synthetic-but-deterministic dimensions, pushed through the
    skew-spread layout + Arrow resize kernel
    (functions/multimodal.py::resize_images). The kernel's integer-
    exact bounded-box arithmetic IS the oracle-checked output — a SQL
    twin recomputes every target dimension digit-for-digit, certifying
    the Python kernel differentially (the pixel transform itself stays
    the documented stub)."""
    from ..functions.multimodal import resize_images

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("synthetic").alias("format"),
        (F.lit(100) + F.col("doc_id") % 1900).cast("int").alias("width"),
        (F.lit(100) + (F.col("doc_id") * 7) % 1200).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return resize_images(media, max_px=256).select(
        "media_id", "width", "height", "new_width", "new_height"
    )


def q39_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling — the reproducible downsampling a
    training pipeline needs (same subset on every run, any cluster, any
    partitioning; no RNG state): keep docs whose md5(doc_id) starts
    below 0x28 (~15.6%). Returns the per-source sample accounting."""
    d = load_table(spark, sf_dir, "documents")
    sampled = d.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "28")
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _pack_bins(f: DataFrame, budget: int = 4096) -> DataFrame:
    """Two-phase per-source cumulative-sum packing (VERDICT r03 #1).

    The naive formulation — ``SUM(n_tokens) OVER (PARTITION BY source
    ORDER BY doc_id)`` — funnels each source's ENTIRE corpus through
    one task: with a handful of sources at 100 TB that is a
    billions-of-rows single task. This is the q65/q49 bucketed rewrite
    applied to a prefix SUM instead of a rank:

      1. sampled doc_id boundaries (approxQuantile — a tiny driver
         scalar list) bucket the rows into ~shuffle.partitions ranges;
      2. each (source, bkt) cell computes its LOCAL prefix sum under a
         cell-partitioned window — bounded task size regardless of how
         few sources exist;
      3. a (source × bucket)-row aggregate of per-cell token totals
         yields per-cell starting offsets (an exclusive prefix sum over
         the TINY frame), broadcast back to lift local sums to the
         global cumulative sum.

    Boundary placement affects only balance, never the result: bucketing
    by doc_id ranges preserves doc_id order across cells of a source,
    and the lift is exact integer arithmetic. Expects the narrow frame
    (doc_id, source, n_tokens); localCheckpoints it so the three passes
    (quantiles, offsets, final) scan the 3-column frame — not the text
    column or any upstream pipeline — exactly once.
    """
    f = checkpoint_tracked(f)
    try:
        nb = int(f.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nb = 32
    nb = max(8, min(nb, 1024))
    bucketed = f.withColumn(
        "bkt", bucket_of("doc_id", quantile_bounds(f, "doc_id", n=nb))
    )
    # per-cell token totals → exclusive prefix sum per source; this frame
    # is (n_sources × nb) rows, so its per-source window is trivially tiny
    offsets = (
        bucketed.groupBy("source", "bkt")
        .agg(F.sum("n_tokens").alias("tsum"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("tsum").over(
                    Window.partitionBy("source")
                    .orderBy("bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("source", "bkt", "offset")
    )
    wl = Window.partitionBy("source", "bkt").orderBy("doc_id")
    cum_local = F.sum("n_tokens").over(
        wl.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.withColumn("cl", cum_local)
        .join(F.broadcast(offsets), on=["source", "bkt"])
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(
                (F.col("offset") + F.col("cl") - F.col("n_tokens"))
                / F.lit(budget)
            ).alias("bin_id"),
        )
    )


def q40_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign docs to 4096-token context
    bins per source (cumulative-sum binning over a deterministic doc
    order; each bin's docs concatenate to <= budget + one overflow
    doc). Runs as the two-phase bucketed prefix sum (``_pack_bins``) so
    no source ever collapses to a single task; the oracle stays the
    plain one-window SQL."""
    d = load_table(spark, sf_dir, "documents")
    narrow = d.select(
        "doc_id", "source", TX.token_count("text").alias("n_tokens")
    )
    return _pack_bins(narrow)


def q41_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text scrubbing: strip punctuation, collapse whitespace — the
    normalize-before-tokenize pass; reports per-doc before/after sizes
    so the oracle verifies the actual rewrite, not just the counts."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.trim(
        F.regexp_replace(
            F.regexp_replace("text", r"[^\w\s]", ""), r"\s+", " "
        )
    )
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_before"),
        F.length(scrubbed).alias("n_chars_after"),
        TX.punct_count("text").alias("n_punct_removed"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


def q46_udtf_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface: a table function chunking each document into
    100-char pieces, applied per row via LATERAL join — the
    one-row-to-N-rows generator shape (context-window chunking for
    training data). Arrow-batched like other Python kernels; the chunk
    rule is character arithmetic so DuckDB recomputes it exactly."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk string")
    class ChunkText:
        def eval(self, text: str):
            if text is None:
                return
            for i in range(0, max(1, (len(text) + 99) // 100)):
                yield i, text[i * 100 : (i + 1) * 100]

    spark.udtf.register("chunk_text", ChunkText)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_for_chunk")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk
        FROM docs_for_chunk d, LATERAL chunk_text(d.text) c
        """
    )


def q47_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup endgame, full scale path chained: MinHash-LSH candidates →
    exact Jaccard verify (q25 semantics) → connected components via
    run-to-fixpoint min-label propagation (converged, round-capped —
    VERDICT r07 #2: a fixed round count silently splits any component
    whose diameter exceeds it) → one (doc_id, cluster_rep) row per
    PAIRED document (unpaired docs are implicitly their own cluster). A
    downstream keep-list selects rows where doc_id == cluster_rep and
    drops the rest — this query returns the full labeling so the oracle
    can verify the clustering itself."""
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(d, "text", "doc_id", JACCARD_THRESHOLD)
    return DD.label_propagation_clusters_converged(pairs)


def q77_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composite: the full training-data prep pipeline a
    corpus team actually ships, chained from this engine's own
    oracle-verified components — near-dup keep-list (q72 semantics:
    MinHash-LSH → exact Jaccard → converged clustering → drop
    non-representatives), Gopher-style quality gate (q51's 4 rules,
    shared expression builder), then token-budget sequence packing
    (q40's cumulative-sum binning) over the surviving corpus.
    Output: (doc_id, source, n_tokens, bin_id) — the packed,
    deduplicated, quality-filtered dataset manifest. Every stage is a
    narrow/bucketed plan; the composite adds NO operator beyond its
    parts, which is the point: composition without glue code."""
    from .extensions import quality_score_cols

    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(d, "text", "doc_id", JACCARD_THRESHOLD)
    labels = DD.label_propagation_clusters_converged(pairs)
    drop = labels.filter(F.col("doc_id") != F.col("cluster_rep")).select(
        "doc_id"
    )
    kept = d.join(drop, on="doc_id", how="left_anti")
    n_tok, score = quality_score_cols("text")
    f = (
        kept.select(
            "doc_id", "source", n_tok.alias("n_tokens"), score.alias("qs")
        )
        .filter(F.col("qs") == 4)
        .select("doc_id", "source", "n_tokens")
    )
    # _pack_bins localCheckpoints its input, so the dedup + quality
    # pipeline above runs ONCE — the packing passes scan the narrow
    # 3-column survivor frame, not the upstream anti-join
    return _pack_bins(f)


def q85_crosssource_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-leakage report: near-dup pairs (q25
    semantics) rolled up by the UNORDERED source pair — the audit that
    tells a corpus team which sources duplicate into which. An
    off-diagonal row (source_a != source_b) is contamination risk (a
    train source near-duplicating an eval source); the diagonal
    measures intra-source redundancy. Scale shape: pairs are
    LSH-candidate-bounded, the two source lookups are equi-joins on
    doc_id (AQE broadcasts the pair side when small), and the rollup
    output is (sources x sources)-bounded. jaccard is a single exact
    int/int division (engine-identical double); only AVG needs the
    ROUND(,6) association guard."""
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(d, "text", "doc_id", JACCARD_THRESHOLD)
    src = d.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id1"), F.col("source").alias("s1")
            ),
            on="id1",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id2"), F.col("source").alias("s2")
            ),
            on="id2",
        )
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
            "jaccard",
        )
    )
    return j.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("jaccard").alias("max_jaccard"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
    )


def q241_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval near-dup leakage audit: q24's verified near-dup
    pairs joined to q79's deterministic split assignment on BOTH ends,
    counted per unordered split pair — the eval-hygiene check that
    catches a test document whose near-duplicate sits in train, which
    exact-overlap contamination (q63) and semantic contamination (q93)
    measure differently (this one uses the dedup pipeline's own pair
    evidence, so 'leaked' here means 'the dedup run would have caught
    it'). Output: (split_a <= split_b, n_pairs, n_docs involved).

    Scale shape: the pair frame is the df-capped shingle equi-join
    (candidate-bounded, never corpus²); the split column is a
    codegen'd md5 projection; the two split lookups join on doc_id
    (duplicate-count-sized right sides, AQE broadcasts); one final
    group-agg over ≤6 split-pair rows."""
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.jaccard_pairs(
        d, "text", "doc_id", JACCARD_THRESHOLD, max_doc_freq=MAX_SHINGLE_DF
    )
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "0d", F.lit("test"))
        .when(h2 < "1a", F.lit("val"))
        .otherwise(F.lit("train"))
    )
    sp = d.select("doc_id", split.alias("split"))
    j = (
        pairs.select("id1", "id2")
        .join(
            sp.select(
                F.col("doc_id").alias("id1"), F.col("split").alias("s1")
            ),
            "id1",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("id2"), F.col("split").alias("s2")
            ),
            "id2",
        )
        .select(
            "id1",
            "id2",
            F.least("s1", "s2").alias("split_a"),
            F.greatest("s1", "s2").alias("split_b"),
        )
    )
    return (
        j.select(
            "split_a", "split_b",
            F.explode(F.array("id1", "id2")).alias("doc"),
        )
        .groupBy("split_a", "split_b")
        .agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_pairs"),
            F.countDistinct("doc").alias("n_docs"),
        )
    )


def q72_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame ARTIFACT: the kept corpus itself. q47 labels
    every paired document; here each cluster's non-representative
    members become a drop-list and ONE anti-join on doc_id removes them
    — unpaired documents survive untouched. This is the query a
    training-data pipeline actually materializes after near-dup
    detection; cost = the q47 pipeline + a linear anti-join whose right
    side is duplicate-count-sized (AQE broadcasts it when small), never
    a corpus×corpus op."""
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(d, "text", "doc_id", JACCARD_THRESHOLD)
    labels = DD.label_propagation_clusters_converged(pairs)
    drop = labels.filter(F.col("doc_id") != F.col("cluster_rep")).select(
        "doc_id"
    )
    return d.select("doc_id").join(drop, on="doc_id", how="left_anti")


def q167_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit of the q60/q87 k-means partitioning: mean
    cosine silhouette per cluster (nearest vs second-nearest centroid
    distance), plus mean intra-cluster distance. The gate that tells
    SemDeDup/IVF whether "same cluster" is trustworthy BEFORE they pay
    for within-cluster pairing — clusters scoring near 0 sit in
    overlap regions and deserve a re-split or probe widening. Shares
    the q60 trainer (same corpus-derived k — 16 at every floor
    corpus — 3 Lloyd rounds, so the oracle reuses
    _KM_CTES verbatim) and the q30 decimal-exact scoring."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.centroid_silhouette(e, n_iters=3)


# q174 shared term strings (q132 snap convention). `jaccard` is an
# exact-integer ratio evaluated as one double division (identical on
# both engines), `est` is k/8 (exact binary), so every term is a
# deterministic double snapped to an exact decimal before the sum.
_CAL_BIN = "LEAST(CAST(FLOOR(jaccard * 10) AS INT), 9)"
_CAL_J = "CAST(ROUND(jaccard, 9) AS DECIMAL(18,9))"
_CAL_E = "CAST(ROUND(est, 9) AS DECIMAL(18,9))"
_CAL_AE = "CAST(ROUND(ABS(est - jaccard), 9) AS DECIMAL(18,9))"


def q174_minhash_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator calibration audit: for every LSH candidate
    pair, the signature-based Jaccard estimate (matching components /
    8) against the exact shingle Jaccard, rolled up into exact-Jaccard
    decile bins with mean estimate and mean absolute error per bin.
    THE trust audit for the whole q25/q47/q71 dedup stack: MinHash is
    an unbiased estimator with std ≈ sqrt(J(1-J)/8) at 8 hashes, and
    this query MEASURES that contract on the actual corpus instead of
    assuming it — a drifting bin means shingling or banding is broken
    for this data.

    Scale shape: everything is candidate-bounded (the q25 LSH plan) —
    signatures are 8 map-side MINs per doc, the estimate join carries
    8×32-byte strings per pair, the exact side reuses the
    candidate-driven shingle join, and the rollup is a ≤10-row
    partial agg."""
    d = load_table(spark, sf_dir, "documents")
    ex = persist_tracked(DD.shingle_sets(d, "text", "doc_id"))
    sigs = persist_tracked(DD.minhash_signatures_from_shingles(ex))
    cand = DD.minhash_band_candidates(sigs)
    exact = DD.jaccard_from_shingles(ex, threshold=0.0, candidates=cand)
    n = DD.N_HASHES
    a = sigs.select(
        F.col("doc").alias("id1"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(n)],
    )
    b = sigs.select(
        F.col("doc").alias("id2"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(n)],
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(n)
    )
    est = (
        cand.join(a, "id1")
        .join(b, "id2")
        .select(
            "id1", "id2", (matches / float(n)).alias("est")
        )
    )
    pairs = exact.join(est, ["id1", "id2"])
    return (
        pairs.select(
            F.expr(_CAL_BIN).alias("jaccard_bin"),
            F.expr(_CAL_J).alias("tj"),
            F.expr(_CAL_E).alias("te"),
            F.expr(_CAL_AE).alias("tae"),
        )
        .groupBy("jaccard_bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum("tj").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_exact"),
            F.round(
                F.sum("te").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_est"),
            F.round(
                F.sum("tae").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_abs_err"),
        )
    )


def q173_quality_representatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-aware canonical selection for dedup clusters: instead of
    q47's min-id representative, each near-dup cluster keeps its
    HIGHEST-q51-quality member (tiebreak min doc_id) — the curation
    policy real pipelines want, since "which copy survives dedup"
    should be a quality decision, not an id accident. Output per
    cluster: size, the chosen representative with its score, and
    whether it differs from the id-based pick (`moved` — the docs the
    naive policy would have thrown away wrongly).

    Scale shape: the q47 pipeline (banded LSH candidates, verified
    pairs, converged label propagation) plus ONE cluster-keyed window over
    members frame — which is duplicate-count-sized, not corpus-sized;
    the q51 score is a codegen'd scan-side projection."""
    from .extensions import quality_score_cols

    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(d, "text", "doc_id", JACCARD_THRESHOLD)
    labels = DD.label_propagation_clusters_converged(pairs)
    _, score = quality_score_cols("text")
    scored = d.select("doc_id", score.alias("q"))
    memb = labels.select(
        F.col("cluster_rep").alias("cluster"), "doc_id"
    ).join(scored, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    rk = memb.select(
        "cluster",
        "doc_id",
        "q",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster"))
        .alias("nm"),
    )
    return rk.filter(F.col("rn") == 1).select(
        "cluster",
        F.col("nm").alias("n_members"),
        F.col("doc_id").alias("rep_doc_id"),
        F.col("q").cast("int").alias("rep_quality"),
        (F.col("doc_id") != F.col("cluster")).alias("moved"),
    )


def q259_langid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 + macro-F1 for the q20 language-ID
    heuristic against the labeled lang column — the standard
    classifier report card, computed entirely from the confusion
    counts (so it costs ONE scan + two tiny aggregates regardless of
    corpus size). One row per TRUE class; macro_f1 is the broadcast
    scalar mean of the per-class F1s.

    Exactness: tp/fp/fn are exact integers; precision/recall/F1 are
    shared double formula strings over them; macro-F1 sums ROUND-9 F1
    terms as DECIMAL(28,9) (the q124 per-term convention) before one
    final division."""
    d = load_table(spark, sf_dir, "documents")
    conf = (
        d.select("lang", TX.lang_id_heuristic("text").alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    true_tot = conf.groupBy("lang").agg(F.sum("n").alias("n_true"))
    pred_tot = conf.groupBy(F.col("pred").alias("lang")).agg(
        F.sum("n").alias("n_pred")
    )
    tp = conf.filter(F.col("lang") == F.col("pred")).select(
        "lang", F.col("n").alias("tp")
    )
    per = (
        true_tot.join(F.broadcast(tp), "lang", "left")
        .join(F.broadcast(pred_tot), "lang", "left")
        .fillna(0, subset=["tp", "n_pred"])
        .select(
            "lang",
            F.col("tp").cast("bigint").alias("tp"),
            (F.col("n_pred") - F.col("tp")).cast("bigint").alias("fp"),
            (F.col("n_true") - F.col("tp")).cast("bigint").alias("fn"),
        )
    )
    _P = (
        "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)"
        " / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) ELSE 0.0 END"
    )
    _R = (
        "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)"
        " / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) ELSE 0.0 END"
    )
    _F1 = (
        f"CASE WHEN ({_P}) + ({_R}) > 0 THEN"
        f" 2 * ({_P}) * ({_R}) / (({_P}) + ({_R})) ELSE 0.0 END"
    )
    scored = per.select(
        "lang",
        "tp",
        "fp",
        "fn",
        F.expr(f"ROUND({_P}, 6)").alias("precision_"),
        F.expr(f"ROUND({_R}, 6)").alias("recall_"),
        F.expr(f"ROUND({_F1}, 6)").alias("f1"),
        F.expr(f"CAST(ROUND({_F1}, 9) AS DECIMAL(28,9))").alias("_f1t"),
    )
    macro = scored.agg(
        F.sum("_f1t").alias("sf1"), F.count(F.lit(1)).alias("k")
    ).select(
        F.expr(
            "ROUND(CAST(sf1 AS DOUBLE) / CAST(k AS DOUBLE), 6)"
        ).alias("macro_f1")
    )
    return scored.drop("_f1t").crossJoin(F.broadcast(macro))


def q271_winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) near-dup candidates: per document, hash every
    4-token gram, slide a 4-gram window and keep each window's MINIMUM
    hash (leftmost on ties) — the classic guarantee that any shared
    run of ≥ 7 tokens contributes at least one SHARED fingerprint, at
    ~1/4 the fingerprint density of full shingling (q24/q25's cost,
    winnowed). Pairs sharing ≥ 2 selected fingerprints are the
    candidates. Complements the suite: q22 is whole-doc exact, q25 is
    probabilistic MinHash, winnowing is deterministic local sampling.

    Exactness: the window minimum picks min(hash, pos) via the
    fixed-width packed string key (hex is constant 32 chars, pos
    zero-padded — the q181 composite-min convention), so selection is
    string-total-order exact on both engines. Scale shape: grams and
    window minima are per-doc windows (partitioned by doc_id); the
    pair join is df-capped (fingerprints in ≤ 10 docs) like q123."""
    d = load_table(spark, sf_dir, "documents")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    tok = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "w")
    )
    grams = (
        tok.withColumn("w1", F.lead("w", 1).over(wd))
        .withColumn("w2", F.lead("w", 2).over(wd))
        .withColumn("w3", F.lead("w", 3).over(wd))
        .filter(F.col("w3").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.md5(F.concat_ws(" ", "w", "w1", "w2", "w3")).alias("h"),
        )
    )
    keyed = grams.select(
        "doc_id",
        "pos",
        F.concat(
            F.col("h"),
            F.lit("|"),
            F.lpad(F.col("pos").cast("string"), 10, "0"),
        ).alias("key"),
        F.lead("h", 3).over(wd).alias("h3"),
    )
    # the min window runs over ALL grams (trailing grams are candidates
    # inside earlier windows); only window STARTS restrict to full
    # 4-gram windows (h3 present)
    sel = (
        keyed.select(
            "doc_id",
            F.col("h3").isNotNull().alias("full"),
            F.min("key").over(wd.rowsBetween(0, 3)).alias("mkey"),
        )
        .filter(F.col("full"))
        .select("doc_id", F.substring("mkey", 1, 32).alias("h"))
        .distinct()
    )
    df_ok = sel.groupBy("h").agg(
        F.count(F.lit(1)).alias("df")
    ).filter(F.col("df") <= 10)
    capped = sel.join(F.broadcast(df_ok.select("h")), "h")
    a = capped.select(F.col("h"), F.col("doc_id").alias("d1"))
    b = capped.select(F.col("h"), F.col("doc_id").alias("d2"))
    return (
        a.join(b, "h")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


QUERIES = {
    "q259_langid_metrics": q259_langid_metrics,
    "q271_winnowing_dedup": q271_winnowing_dedup,
    "q19_text_stats": q19_text_stats,
    "q20_lang_id": q20_lang_id,
    "q21_token_count": q21_token_count,
    "q22_fingerprint": q22_fingerprint,
    "q23_exact_dedup": q23_exact_dedup,
    "q24_jaccard_pairs": q24_jaccard_pairs,
    "q241_split_leakage": q241_split_leakage,
    "q25_minhash_lsh": q25_minhash_lsh,
    "q288_minhash_recall_audit": q288_minhash_recall_audit,
    "q290_minhash_sizing_tuner": q290_minhash_sizing_tuner,
    "q294_simhash_recall_audit": q294_simhash_recall_audit,
    "q298_simhash_capped_recall_audit": q298_simhash_capped_recall_audit,
    "q295_simhash_bucket_skew": q295_simhash_bucket_skew,
    "q296_simhash_capped": q296_simhash_capped,
    "q123_containment_dedup": q123_containment_dedup,
    "q141_dedup_savings": q141_dedup_savings,
    "q149_prefix_join": q149_prefix_join,
    "q71_incremental_neardup": q71_incremental_neardup,
    "q26_cosine_topk": q26_cosine_topk,
    "q201_knn_classifier": q201_knn_classifier,
    "q222_dimension_audit": q222_dimension_audit,
    "q223_dedup_bias_audit": q223_dedup_bias_audit,
    "q27_ann_signlsh": q27_ann_signlsh,
    "q28_simhash": q28_simhash,
    "q29_embed_neardup": q29_embed_neardup,
    "q154_neardup_degrees": q154_neardup_degrees,
    "q156_fuzzy_name_join": q156_fuzzy_name_join,
    "q157_graph_triangles": q157_graph_triangles,
    "q30_ivf_ann": q30_ivf_ann,
    "q60_ivf_kmeans_ann": q60_ivf_kmeans_ann,
    "q167_cluster_silhouette": q167_cluster_silhouette,
    "q73_pq_ann": q73_pq_ann,
    "q74_pq_rerank_ann": q74_pq_rerank_ann,
    "q83_ivfpq_ann": q83_ivfpq_ann,
    "q35_multimodal_features": q35_multimodal_features,
    "q147_audio_energy": q147_audio_energy,
    "q75_image_resize": q75_image_resize,
    "q39_deterministic_sample": q39_deterministic_sample,
    "q40_sequence_pack": q40_sequence_pack,
    "q41_scrub": q41_scrub,
    "q46_udtf_chunk": q46_udtf_chunk,
    "q47_dedup_clusters": q47_dedup_clusters,
    "q173_quality_representatives": q173_quality_representatives,
    "q174_minhash_calibration": q174_minhash_calibration,
    "q72_dedup_keep_list": q72_dedup_keep_list,
    "q85_crosssource_leakage": q85_crosssource_leakage,
    "q77_training_prep": q77_training_prep,
}

# --- generated SQL fragments for the simhash / banded-LSH / IVF oracles ---

_SIM_BAND_IDX = ", ".join(str(b) for b in range(DD.N_SIM_BANDS))

_SCORE = (
    "ROUND(CAST(CAST({dot} AS DECIMAL(30,12)) AS DOUBLE)"
    " / (sqrt(CAST(CAST({n1} AS DECIMAL(30,12)) AS DOUBLE))"
    " * sqrt(CAST(CAST({n2} AS DECIMAL(30,12)) AS DOUBLE))), 6)"
)


def _pq_iter(i: int, prev: str) -> str:
    """One unrolled Lloyd round of the PQ trainer (q73/q74 oracles):
    decimal-cast distance sums make the argmin order-independent, and
    the REAL round-trip on the mean mirrors the Spark trainer's
    float32-rounded means — double-association noise (~1e-16) is far
    inside float32's ~1e-7 grid, so both engines land on the identical
    codebook. COALESCE keeps the previous centroid for empty codes
    (Lloyd's fallback, same as the Spark side)."""
    return f"""
        d{i} AS (SELECT s.vid, s.j, c.cid,
                        SUM(CAST((s.v - c.v) * (s.v - c.v)
                                 AS DECIMAL(38,25))) AS dist
                 FROM sub s JOIN {prev} c ON c.j = s.j AND c.pos = s.pos
                 GROUP BY s.vid, s.j, c.cid),
        a{i} AS (SELECT vid, j, cid FROM (
                   SELECT vid, j, cid,
                          ROW_NUMBER() OVER (PARTITION BY vid, j
                                             ORDER BY dist, cid) AS arn
                   FROM d{i}) WHERE arn = 1),
        m{i} AS (SELECT a.j, a.cid, s.pos,
                        CAST(CAST(AVG(s.v) AS REAL) AS DOUBLE) AS v
                 FROM a{i} a JOIN sub s ON s.vid = a.vid AND s.j = a.j
                 GROUP BY a.j, a.cid, s.pos),
        cb{i} AS (SELECT c.j, c.cid, c.pos, COALESCE(m.v, c.v) AS v
                  FROM {prev} c LEFT JOIN m{i} m
                    ON m.j = c.j AND m.cid = c.cid AND m.pos = c.pos)"""


def _km_iter(i: int, prev: str) -> str:
    """One unrolled spherical-Lloyd round of the q60 coarse quantizer.
    The Spark trainer scores assignment with a double fold × a
    driver-computed 1/||c|| (kmeans_centroids, similarity.py) — the
    oracle's decimal-exact dot differs only at ~1e-16 relative, far
    below any real inter-centroid score gap, and the REAL round-trip
    on the mean update (mirroring the trainer's float32-rounded means)
    re-synchronizes both engines every round. COALESCE keeps empty
    clusters' previous centroids (Lloyd's fallback, as in Spark)."""
    return f"""
        cinv{i} AS (SELECT cid,
                           CASE WHEN SUM(CAST(v * v AS DECIMAL(38,25))) = 0
                                THEN 0.0
                                ELSE 1.0 / sqrt(CAST(SUM(CAST(v * v
                                         AS DECIMAL(38,25))) AS DOUBLE)) END
                               AS cinv
                    FROM {prev} GROUP BY cid),
        kd{i} AS (SELECT e.vec_id AS vid, c.cid,
                         CAST(SUM(CAST(e.v * c.v AS DECIMAL(38,25)))
                              AS DOUBLE) AS dot
                  FROM e JOIN {prev} c ON c.pos = e.pos
                  GROUP BY e.vec_id, c.cid),
        ka{i} AS (SELECT vid, cid FROM (
                    SELECT d.vid, d.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY d.vid
                               ORDER BY d.dot * ci.cinv DESC, d.cid) AS krn
                    FROM kd{i} d JOIN cinv{i} ci ON ci.cid = d.cid)
                  WHERE krn = 1),
        km{i} AS (SELECT a.cid, e.pos,
                         CAST(CAST(AVG(e.v) AS REAL) AS DOUBLE) AS v
                  FROM ka{i} a JOIN e ON e.vec_id = a.vid
                  GROUP BY a.cid, e.pos),
        cent{i} AS MATERIALIZED (SELECT p.cid, p.pos, COALESCE(m.v, p.v) AS v
                    FROM {prev} p LEFT JOIN km{i} m
                      ON m.cid = p.cid AND m.pos = p.pos)"""


# Corpus-derived IVF geometry — the SQL twin of
# similarity.scaled_ivf_nlist / scaled_ivf_nprobe (VERDICT r11 #1).
# LENGTH(bin(GREATEST(n,2)-1)) is the shared ceil_log2 idiom (q28/q289
# cfg convention); log2(nlist) = max(4, ⌈ceil_log2(n)/2⌉ − 4) keeps the
# 16-list floor exactly through 2^16 vectors, √n-class lists beyond;
# np = max(2, log2(nlist) − 2). Every integer-ceil is parenthesized
# (the q296 `*`/`//` same-precedence lesson). Derived from COUNT(*) at
# oracle runtime, so the twin holds at ANY corpus size.
_IVF_LOG2_NLIST_SQL = (
    "GREATEST(4, (((LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) + 1) // 2) - 4))"
)
_IVF_CFG_CTE = (
    f"ivfcfg AS (SELECT (1 << {_IVF_LOG2_NLIST_SQL}) AS nlist,\n"
    f"                  GREATEST(2, {_IVF_LOG2_NLIST_SQL} - 2) AS np\n"
    f"           FROM embeddings)"
)


# Unrolled k-means IVF (q60): 3 spherical-Lloyd rounds as CTEs (the
# same fixed-iteration unrolling as the PQ trainer below), then the
# fast-assignment probe step (double dot / double norms — mirroring
# ivf_topk's assign_exact=False) and q30's exact decimal re-rank over
# the probed lists. init = vectors with vec_id < nlist (ivfcfg-derived;
# 16 at every floor corpus).
_KM_CTES = (
    # e and every unrolled-round centroid CTE are MATERIALIZED: DuckDB
    # inlines CTEs by default, so the multi-round references otherwise
    # re-derive each prior round per consumer (q87's appendix made the
    # un-materialized form cost 8.3 s vs 0.6 s at sf0.01).
    f"""
        WITH {_IVF_CFG_CTE},
        e AS MATERIALIZED (
                   SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        cent0 AS (SELECT vec_id AS cid, pos, v FROM e
                  WHERE vec_id < (SELECT nlist FROM ivfcfg)),"""
    + _km_iter(1, "cent0")
    + ","
    + _km_iter(2, "cent1")
    + ","
    + _km_iter(3, "cent2")
)


# Unrolled PQ trainer + ADC scan (q73/q74): the q47-label-prop trick —
# a FIXED iteration count makes the "iterative" trainer SQL-expressible
# by unrolling n_iters=2 Lloyd rounds as CTEs (VERDICT r03 #4). m=4
# subspaces × d_sub=16 dims, k_sub=16 codebook entries, deterministic
# init = subvectors of vec_id < 16 (mirrors pq_codebooks_and_codes).
# The ADC total is written t0+t1+t2+t3 (left-assoc) to mirror the Spark
# side's sequential reduce, and ROUND(,6) absorbs the remaining
# double-association noise on both engines (q26/q66 convention).
_PQ_CTES = (
    """
        WITH sub AS (SELECT vec_id AS vid,
                            (generate_subscripts(embedding, 1) - 1) // 16 AS j,
                            (generate_subscripts(embedding, 1) - 1) % 16 AS pos,
                            CAST(unnest(embedding) AS DOUBLE) AS v
                     FROM embeddings),
        cb0 AS (SELECT j, vid AS cid, pos, v FROM sub WHERE vid < 16),"""
    + _pq_iter(1, "cb0")
    + ","
    + _pq_iter(2, "cb1")
    + """,
        df AS (SELECT s.vid, s.j, c.cid,
                      SUM(CAST((s.v - c.v) * (s.v - c.v)
                               AS DECIMAL(38,25))) AS dist
               FROM sub s JOIN cb2 c ON c.j = s.j AND c.pos = s.pos
               GROUP BY s.vid, s.j, c.cid),
        codes AS (SELECT vid, j, cid FROM (
                    SELECT vid, j, cid,
                           ROW_NUMBER() OVER (PARTITION BY vid, j
                                              ORDER BY dist, cid) AS arn
                    FROM df) WHERE arn = 1),
        qd AS (SELECT c.j, c.cid,
                      CAST(SUM(CAST((q.v - c.v) * (q.v - c.v)
                                    AS DECIMAL(38,25))) AS DOUBLE) AS qdv
               FROM sub q JOIN cb2 c ON c.j = q.j AND c.pos = q.pos
               WHERE q.vid = 0
               GROUP BY c.j, c.cid),
        adct AS (SELECT k.vid,
                        MAX(CASE WHEN k.j = 0 THEN q.qdv END) AS t0,
                        MAX(CASE WHEN k.j = 1 THEN q.qdv END) AS t1,
                        MAX(CASE WHEN k.j = 2 THEN q.qdv END) AS t2,
                        MAX(CASE WHEN k.j = 3 THEN q.qdv END) AS t3
                 FROM codes k JOIN qd q ON q.j = k.j AND q.cid = k.cid
                 GROUP BY k.vid),
        adc_ranked AS (
            SELECT vid AS vec_id,
                   ROUND(t0 + t1 + t2 + t3, 6) AS adc_dist,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND(t0 + t1 + t2 + t3, 6), vid) AS rn
            FROM adct WHERE vid <> 0)"""
)

_TOK = "string_split_regex(lower(trim(text)), '\\s+')"
_SHINGLES_CTE = f"""
tok AS (SELECT doc_id, {_TOK} AS t FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN len(t) >= 3
                   THEN list_distinct(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(list_slice(t, i, i + 2), ' ')))
                   ELSE [] END AS s
       FROM tok),
ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh)
"""

_SIG_MIN = ", ".join(
    f"MIN(md5('{i}' || '§' || shingle)) AS sig{i}" for i in range(DD.N_HASHES)
)
_BAND_LIST = ", ".join(
    f"md5(sig{2*b} || '|' || sig{2*b+1})" for b in range(DD.N_BANDS)
)

# the oracle stop-list fragment lives beside q51's rules; importing it
# (extensions has no import back into this module) keeps the q77
# composite's quality gate textually identical to q51's
from .extensions import _STOP_SQL

# LSH candidates → exact-Jaccard pairs → connected-components minimum
# via a recursive-CTE transitive closure (l4 = the q47 labeling; the
# name is historical from the unrolled-4-round era, kept so the four
# downstream oracles read unchanged). The closure is the TRUE fixpoint
# of min-label propagation — the engine side now runs
# label_propagation_clusters_converged (VERDICT r07 #2), so the oracle
# must be round-count-independent: a diameter-9 chain and a diameter-1
# pair both land on the component minimum. Component sizes bound the
# closure (|comp|² reach rows per component; near-dup components are
# tiny chains), so the recursion is cheap at oracle scale. Shared by
# the q47 clustering oracle, the q72 keep-list oracle, the q173
# representatives oracle, and the q77 composite.
_CLUSTER_CTES = f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        sigs AS (SELECT doc_id, {_SIG_MIN} FROM ex GROUP BY doc_id),
        bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sigs),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        scored AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(COUNT(*) AS DOUBLE)
                       / (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*)) AS jaccard
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
        pairs AS (
            SELECT s.id1, s.id2
            FROM scored s JOIN cand c ON s.id1 = c.id1 AND s.id2 = c.id2
            WHERE s.jaccard >= {JACCARD_THRESHOLD}),
        e AS (SELECT id1 AS a, id2 AS b FROM pairs
              UNION ALL
              SELECT id2 AS a, id1 AS b FROM pairs),
        reach(id, x) AS (
            SELECT a AS id, a AS x FROM e
            UNION
            SELECT e.a, reach.x FROM e JOIN reach ON reach.id = e.b),
        l4 AS (SELECT id, MIN(x) AS rep FROM reach GROUP BY id)"""



def _signlsh_band_ctes(n_bits: int, band_bits: int) -> str:
    """WITH-body fragment (e → proj → buckets → bands → cand) emitting
    the deterministic md5-hyperplane banding of
    operators/similarity.signlsh_buckets at a PINNED width — shared by
    signlsh_pairs_sql (verified pairs) and signlsh_cand_sql (candidate
    pairs only, the q289 cost measure)."""
    n_bands = n_bits // band_bits
    bucket = " || ".join(
        f"MAX(CASE WHEN bit = {i} THEN b END)" for i in range(n_bits)
    )
    band_vals = ", ".join(
        f"substr(bucket, {b * band_bits + 1}, {band_bits})"
        for b in range(n_bands)
    )
    band_idx = ", ".join(str(i) for i in range(n_bands))
    return f"""e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        proj AS (SELECT vec_id, bit,
                        SUM(CAST((CASE WHEN substr(md5(bit || '_' || pos), 1, 1) >= '8'
                                       THEN 1.0 ELSE -1.0 END) * v AS DECIMAL(38,25))) AS p
                 FROM e CROSS JOIN (SELECT unnest(range(0, {n_bits})) AS bit)
                 GROUP BY vec_id, bit),
        buckets AS (SELECT vec_id, {bucket} AS bucket
                    FROM (SELECT vec_id, bit,
                                 CASE WHEN p >= 0 THEN '1' ELSE '0' END AS b FROM proj)
                    GROUP BY vec_id),
        bands AS (SELECT vec_id, unnest([{band_vals}]) AS band_val,
                         unnest([{band_idx}]) AS band_idx
                  FROM buckets),
        cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                  AND a.vec_id < b.vec_id)"""


def signlsh_cand_sql(n_bits: int = 16, band_bits: int = 4) -> str:
    """Distinct banded candidate pairs at a pinned width — the exact
    twin of similarity.signlsh_band_candidates(...).distinct(), used
    by the q289 sizing grid as the COST side (candidate mass is what
    a width buys down; the verifier's work is proportional to it)."""
    return f"""
        WITH {_signlsh_band_ctes(n_bits, band_bits)}
        SELECT id1, id2 FROM cand
    """


def signlsh_pairs_sql(
    threshold: str, n_bits: int = 16, band_bits: int = 4
) -> str:
    """The q29 oracle shape with PARAMETERIZED LSH width — the corpus-
    scaled configuration path BENCH_SCALE_r09 measured (fixed 4-bit
    bands make candidates quadratic in corpus size; production sizing
    raises band_bits with log n). Emits the same deterministic
    md5-hyperplane banding as operators/similarity.signlsh_buckets for
    any (n_bits, band_bits), so a wider-band Spark query keeps an
    exact DuckDB twin (q286). The default arguments reproduce the
    historical 16-bit/4-band formulation."""
    return f"""
        WITH {_signlsh_band_ctes(n_bits, band_bits)},
        norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
                  FROM e GROUP BY vec_id),
        dots AS (SELECT c.id1, c.id2, SUM(CAST(ae.v * be.v AS DECIMAL(38,25))) AS dot
                 FROM cand c
                 JOIN e ae ON ae.vec_id = c.id1
                 JOIN e be ON be.vec_id = c.id2 AND be.pos = ae.pos
                 GROUP BY c.id1, c.id2)
        SELECT id1, id2, cosine FROM (
            SELECT d.id1, d.id2,
                   {_SCORE.format(dot="d.dot", n1="na.n2", n2="nb.n2")} AS cosine
            FROM dots d
            JOIN norms na ON na.vec_id = d.id1
            JOIN norms nb ON nb.vec_id = d.id2)
        WHERE cosine >= {threshold}
    """

def signlsh_pairs_sql_scaled(threshold: str) -> str:
    """The q29 oracle with the band width DERIVED IN SQL from the
    corpus row count — the exact twin of similarity.scaled_band_bits
    (band_bits = max(4, ⌈log2 n⌉ − 7), integer-exact on both sides:
    Python uses (n−1).bit_length(), SQL uses LENGTH(bin(n − 1))).
    Structure is width-independent: projections run over range(0,
    4·bb) bits, the bucket is a string_agg ORDER BY bit (replacing the
    fixed-width MAX(CASE) pivot), and the 4 band values are substr
    slices at computed offsets. This keeps the oracle valid at ANY sf
    — a static-width oracle is only correct while the engine's derived
    width happens to match it (n ≤ 2048)."""
    return f"""
        WITH cfg AS (SELECT GREATEST(4, LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) - 7)
                                AS bb
                     FROM embeddings),
        e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings),
        bits AS (SELECT unnest(range(0, 4 * bb)) AS bit FROM cfg),
        proj AS (SELECT vec_id, bit,
                        SUM(CAST((CASE WHEN substr(md5(bit || '_' || pos), 1, 1) >= '8'
                                       THEN 1.0 ELSE -1.0 END) * v AS DECIMAL(38,25))) AS p
                 FROM e CROSS JOIN bits
                 GROUP BY vec_id, bit),
        buckets AS (SELECT vec_id,
                           string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END,
                                      '' ORDER BY bit) AS bucket
                    FROM proj GROUP BY vec_id),
        bands AS (SELECT bu.vec_id, bi.band_idx,
                         substr(bu.bucket, bi.band_idx * c.bb + 1, c.bb) AS band_val
                  FROM buckets bu
                  CROSS JOIN cfg c
                  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) bi),
        cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                  AND a.vec_id < b.vec_id),
        norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
                  FROM e GROUP BY vec_id),
        dots AS (SELECT c.id1, c.id2, SUM(CAST(ae.v * be.v AS DECIMAL(38,25))) AS dot
                 FROM cand c
                 JOIN e ae ON ae.vec_id = c.id1
                 JOIN e be ON be.vec_id = c.id2 AND be.pos = ae.pos
                 GROUP BY c.id1, c.id2)
        SELECT id1, id2, cosine FROM (
            SELECT d.id1, d.id2,
                   {_SCORE.format(dot="d.dot", n1="na.n2", n2="nb.n2")} AS cosine
            FROM dots d
            JOIN norms na ON na.vec_id = d.id1
            JOIN norms nb ON nb.vec_id = d.id2)
        WHERE cosine >= {threshold}
    """


_Q29_SQL_SCALED = signlsh_pairs_sql_scaled("0.4")


def minhash_pairs_sql_scaled(threshold) -> str:
    """q25's oracle with the MinHash band depth DERIVED IN SQL from
    the document count — the exact twin of dedup.scaled_rows_per_band
    (r = max(2, (⌈log2 n⌉ − 5) // 3); (x+2)//3 = ⌈x/3⌉ keeps it
    integer on both sides). Hash index becomes a range() dimension,
    the per-(doc, hash) min a grouped aggregate, and the band key
    md5(string_agg(min ORDER BY hash)) grouped by hash // r — the same
    concat_ws('|') order the engine's minhash_band_frame emits. The
    static _SIG_MIN/_BAND_LIST fragments used by the composite oracles
    stay valid while the derived r = 2 (n ≤ 2^13 docs)."""
    return f"""
        WITH {_SHINGLES_CTE},
        cfg AS (SELECT GREATEST(2, (LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) - 5) // 3)
                           AS r
                FROM documents),
        hs AS (SELECT unnest(range(0, 4 * r)) AS i FROM cfg),
        minv AS (SELECT e.doc_id, h.i,
                        MIN(md5(h.i || '§' || e.shingle)) AS mv
                 FROM ex e CROSS JOIN hs h
                 GROUP BY e.doc_id, h.i),
        bands AS (SELECT m.doc_id,
                         md5(string_agg(m.mv, '|' ORDER BY m.i)) AS band_key
                  FROM minv m CROSS JOIN cfg c
                  GROUP BY m.doc_id, m.i // c.r),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        scored AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(COUNT(*) AS DOUBLE)
                       / (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*)) AS jaccard
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT s.id1, s.id2, s.jaccard
        FROM scored s JOIN cand c ON s.id1 = c.id1 AND s.id2 = c.id2
        WHERE s.jaccard >= {threshold}
    """


# Derived-width SimHash oracle fragments (shared by q28 and the q294
# recall audit): the bit index is a range(0, 4·w) dimension with w
# derived from COUNT(*) — the exact twin of
# dedup.scaled_simhash_band_bits (w = max(8, ⌈log2 n⌉ − 7), integer on
# both sides: Python (n−1).bit_length(), SQL LENGTH(bin(n − 1))). Bit
# i's vote reads hex digit i % 32 of md5 BLOCK i // 32 — block 0
# unsalted, block j ≥ 1 salted 'j§' — matching
# dedup.simhash_signatures' multi-block scheme, so the fragments stay
# valid at ANY derived width, not just ≤ 32. The fingerprint is a
# string_agg ORDER BY bit; bands are substr slices at computed offsets;
# hamming verification is DuckDB's hamming() over the equal-length bit
# strings.
_SIMHASH_FPS_CTES = f"""cfg AS (SELECT GREATEST(8, LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) - 7)
                           AS w
                FROM documents),
        bitdim AS (SELECT unnest(range(0, 4 * w)) AS bit FROM cfg),
        votes AS (SELECT e.doc_id, b.bit,
                         SUM(CASE WHEN substr(
                                 CASE WHEN b.bit < 32 THEN md5(e.shingle)
                                      ELSE md5((b.bit // 32) || '§'
                                               || e.shingle) END,
                                 CAST(b.bit % 32 + 1 AS BIGINT), 1) >= '8'
                                  THEN 1 ELSE -1 END) AS s
                  FROM ex e CROSS JOIN bitdim b
                  GROUP BY e.doc_id, b.bit),
        fps AS (SELECT doc_id,
                       string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END,
                                  '' ORDER BY bit) AS bits
                FROM votes GROUP BY doc_id),
        bands AS (SELECT f.doc_id, bi.band_idx,
                         substr(f.bits, bi.band_idx * c.w + 1, c.w)
                             AS band_val
                  FROM fps f
                  CROSS JOIN cfg c
                  CROSS JOIN (SELECT unnest([{_SIM_BAND_IDX}]) AS band_idx)
                      bi),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                  AND a.doc_id < b.doc_id)"""


# Stop-bucket cap over _SIMHASH_FPS_CTES' bands: drop buckets above
# the derived cap 2·⌈n/2^w⌉ (dedup.scaled_stop_bucket_cap's integer
# twin), emit candc = the capped candidate pairs. Shared by the q296
# oracle (via simhash_pairs_sql_scaled(capped=True)) and the q298
# capped recall audit.
_SIMHASH_CAP_CTES = """,
        capv AS (SELECT 2 * (((SELECT COUNT(*) FROM documents)
                              + (1 << w) - 1) // (1 << w)) AS cap
                 FROM cfg),
        keep AS (SELECT b.band_idx, b.band_val
                 FROM (SELECT band_idx, band_val, COUNT(*) AS c
                       FROM bands GROUP BY band_idx, band_val) b
                 CROSS JOIN capv
                 WHERE b.c <= capv.cap),
        kept AS (SELECT f.doc_id, f.band_idx, f.band_val
                 FROM bands f
                 JOIN keep k ON k.band_idx = f.band_idx
                            AND k.band_val = f.band_val),
        candc AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                  FROM kept a JOIN kept b
                    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                   AND a.doc_id < b.doc_id)"""


def simhash_pairs_sql_scaled(max_hamming: int, capped: bool = False) -> str:
    """q28's oracle at the COUNT(*)-derived width — the
    signlsh_pairs_sql_scaled recipe over _SIMHASH_FPS_CTES. With
    ``capped``, candidates route through the stop-bucket filter at the
    derived cap 2·⌈n/2^w⌉ (dedup.scaled_stop_bucket_cap's integer
    twin) — the q296 variant."""
    cand_src = "cand"
    cap_ctes = ""
    if capped:
        cand_src = "candc"
        cap_ctes = _SIMHASH_CAP_CTES
    return f"""
        WITH {_SHINGLES_CTE},
        {_SIMHASH_FPS_CTES}{cap_ctes}
        SELECT id1, id2, hamming FROM (
            SELECT c.id1, c.id2,
                   CAST(hamming(x.bits, y.bits) AS INTEGER) AS hamming
            FROM {cand_src} c
            JOIN fps x ON x.doc_id = c.id1
            JOIN fps y ON y.doc_id = c.id2)
        WHERE hamming <= {max_hamming}
    """


# q20's marker-cascade prediction as a DuckDB CASE (shared by the q20
# and q259 oracles)
_LANGID_CASE = """
        CASE WHEN regexp_matches(lower(text), '(^|\\s)the(\\s|$)')
               OR regexp_matches(lower(text), '(^|\\s)and(\\s|$)') THEN 'en'
             WHEN regexp_matches(lower(text), '(^|\\s)el(\\s|$)')
               OR regexp_matches(lower(text), '(^|\\s)los(\\s|$)') THEN 'es'
             WHEN regexp_matches(lower(text), '(^|\\s)le(\\s|$)')
               OR regexp_matches(lower(text), '(^|\\s)les(\\s|$)') THEN 'fr'
             WHEN regexp_matches(lower(text), '(^|\\s)der(\\s|$)')
               OR regexp_matches(lower(text), '(^|\\s)und(\\s|$)') THEN 'de'
             ELSE 'unk' END"""

_Q259_P = (
    "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)"
    " / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) ELSE 0.0 END"
)
_Q259_R = (
    "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)"
    " / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) ELSE 0.0 END"
)
_Q259_F1 = (
    f"CASE WHEN ({_Q259_P}) + ({_Q259_R}) > 0 THEN"
    f" 2 * ({_Q259_P}) * ({_Q259_R}) / (({_Q259_P}) + ({_Q259_R}))"
    " ELSE 0.0 END"
)

ORACLE = {
    "q271_winnowing_dedup": f"""
        WITH tok AS (
            SELECT doc_id,
                   generate_subscripts({_TOK}, 1) - 1 AS pos,
                   unnest({_TOK}) AS w
            FROM documents),
        grams AS (
            SELECT doc_id, pos,
                   md5(w || ' ' || LEAD(w, 1) OVER wd
                         || ' ' || LEAD(w, 2) OVER wd
                         || ' ' || LEAD(w, 3) OVER wd) AS h
            FROM tok
            WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY LEAD(w, 3) OVER wd IS NOT NULL),
        keyed AS (
            SELECT doc_id, pos,
                   h || '|' || lpad(CAST(pos AS VARCHAR), 10, '0') AS key,
                   LEAD(h, 3) OVER wd AS h3
            FROM grams
            WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
        sel AS (
            SELECT DISTINCT doc_id,
                   substr(MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING), 1, 32)
                       AS h
            FROM keyed
            QUALIFY h3 IS NOT NULL),
        capped AS (
            SELECT sel.doc_id, sel.h FROM sel
            SEMI JOIN (SELECT h FROM sel GROUP BY h
                       HAVING COUNT(*) <= 10) ok
              ON sel.h = ok.h)
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    """,
    "q259_langid_metrics": f"""
        WITH conf AS (
            SELECT lang, {_LANGID_CASE} AS pred, COUNT(*) AS n
            FROM documents GROUP BY 1, 2),
        tt AS (SELECT lang, SUM(n) AS n_true FROM conf GROUP BY 1),
        pt AS (SELECT pred AS lang, SUM(n) AS n_pred FROM conf GROUP BY 1),
        tpt AS (SELECT lang, n AS tp FROM conf WHERE lang = pred),
        per AS (
            SELECT tt.lang,
                   CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
                   CAST(COALESCE(n_pred, 0) - COALESCE(tp, 0) AS BIGINT)
                       AS fp,
                   CAST(n_true - COALESCE(tp, 0) AS BIGINT) AS fn
            FROM tt LEFT JOIN tpt USING (lang) LEFT JOIN pt USING (lang)),
        scored AS (
            SELECT lang, tp, fp, fn,
                   ROUND({_Q259_P}, 6) AS precision_,
                   ROUND({_Q259_R}, 6) AS recall_,
                   ROUND({_Q259_F1}, 6) AS f1,
                   CAST(ROUND({_Q259_F1}, 9) AS DECIMAL(28,9)) AS f1t
            FROM per),
        macro AS (
            SELECT ROUND(CAST(SUM(f1t) AS DOUBLE) / COUNT(*), 6)
                       AS macro_f1
            FROM scored)
        SELECT lang, tp, fp, fn, precision_, recall_, f1, macro_f1
        FROM scored, macro
    """,
    "q19_text_stats": """
        SELECT doc_id,
               length(text) AS n_chars_m,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
               CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                   / len(string_split_regex(lower(trim(text)), '\\s+')) AS avg_token_len,
               CAST(length(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                        t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                   / len(string_split_regex(lower(trim(text)), '\\s+')) AS stopword_ratio
        FROM documents
    """,
    "q20_lang_id": """
        SELECT lang,
               CASE WHEN regexp_matches(lower(text), '(^|\\s)the(\\s|$)')
                      OR regexp_matches(lower(text), '(^|\\s)and(\\s|$)') THEN 'en'
                    WHEN regexp_matches(lower(text), '(^|\\s)el(\\s|$)')
                      OR regexp_matches(lower(text), '(^|\\s)los(\\s|$)') THEN 'es'
                    WHEN regexp_matches(lower(text), '(^|\\s)le(\\s|$)')
                      OR regexp_matches(lower(text), '(^|\\s)les(\\s|$)') THEN 'fr'
                    WHEN regexp_matches(lower(text), '(^|\\s)der(\\s|$)')
                      OR regexp_matches(lower(text), '(^|\\s)und(\\s|$)') THEN 'de'
                    ELSE 'unk' END AS lang_pred,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1, 2
    """,
    "q21_token_count": """
        SELECT source,
               COUNT(*) AS n_tokens_total,
               COUNT(DISTINCT w) AS vocab_size
        FROM (SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
              FROM documents)
        GROUP BY source
    """,
    "q147_audio_energy": """
        WITH base AS (
            SELECT doc_id AS media_id, 64 + doc_id % 64 AS p
            FROM documents),
        grid AS (
            SELECT b.media_id, b.p, g.n
            FROM base b
            CROSS JOIN (SELECT unnest(range(0, 2000)) AS n) g),
        s AS (
            SELECT media_id, n // 250 AS frame,
                   ((n % p) * 2000) // p - 1000 AS v
            FROM grid),
        e AS (
            SELECT media_id, frame,
                   CAST(SUM(CAST(v AS BIGINT) * CAST(v AS BIGINT))
                        AS BIGINT) AS en
            FROM s GROUP BY media_id, frame)
        SELECT media_id,
               CAST(8000 AS INT) AS sr,
               CAST(2000 AS INT) AS n_samples,
               CAST(250 AS INT) AS duration_ms,
               MAX(CASE WHEN frame = 0 THEN en END) AS e0,
               MAX(CASE WHEN frame = 1 THEN en END) AS e1,
               MAX(CASE WHEN frame = 2 THEN en END) AS e2,
               MAX(CASE WHEN frame = 3 THEN en END) AS e3,
               MAX(CASE WHEN frame = 4 THEN en END) AS e4,
               MAX(CASE WHEN frame = 5 THEN en END) AS e5,
               MAX(CASE WHEN frame = 6 THEN en END) AS e6,
               MAX(CASE WHEN frame = 7 THEN en END) AS e7
        FROM e GROUP BY media_id
    """,
    "q22_fingerprint": """
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
               COUNT(*) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
                   AS n_same
        FROM documents
    """,
    "q149_prefix_join": f"""
        WITH {_SHINGLES_CTE},
        sets AS (SELECT doc_id AS doc, shingle FROM ex),
        sizes AS (SELECT doc, COUNT(*) AS n FROM sets GROUP BY doc),
        dfreq AS (SELECT shingle, COUNT(*) AS df_ct
                  FROM sets GROUP BY shingle),
        ranked AS (
            SELECT st.doc, st.shingle, sz.n,
                   ROW_NUMBER() OVER (PARTITION BY st.doc
                                      ORDER BY d.df_ct, st.shingle) AS pos
            FROM sets st
            JOIN dfreq d ON d.shingle = st.shingle
            JOIN sizes sz ON sz.doc = st.doc),
        prefix AS (
            SELECT doc, shingle FROM ranked
            WHERE pos <= n - CAST((n + 1) / 2 AS BIGINT) + 1),
        cands AS (
            SELECT DISTINCT a.doc AS id1, b.doc AS id2
            FROM prefix a JOIN prefix b
              ON a.shingle = b.shingle AND a.doc < b.doc),
        inter AS (
            SELECT c.id1, c.id2, COUNT(*) AS inter
            FROM cands c
            JOIN sets a ON a.doc = c.id1
            JOIN sets b ON b.doc = c.id2 AND b.shingle = a.shingle
            GROUP BY c.id1, c.id2)
        SELECT i.id1, i.id2, i.inter, s1.n AS n1, s2.n AS n2,
               ROUND(CAST(i.inter AS DOUBLE)
                     / CAST(s1.n + s2.n - i.inter AS DOUBLE), 6)
                   AS jaccard
        FROM inter i
        JOIN sizes s1 ON s1.doc = i.id1
        JOIN sizes s2 ON s2.doc = i.id2
        WHERE 3 * i.inter >= s1.n + s2.n
    """,
    "q141_dedup_savings": f"""
        WITH fp AS (
            SELECT doc_id, source,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS fp,
                   CAST(len({_TOK}) AS BIGINT) AS n_tok
            FROM documents),
        keep AS (SELECT fp, MIN(doc_id) AS keeper FROM fp GROUP BY fp),
        flagged AS (
            SELECT f.source, f.n_tok,
                   CASE WHEN f.doc_id <> k.keeper THEN 1 ELSE 0 END
                       AS dropped
            FROM fp f JOIN keep k ON k.fp = f.fp)
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(dropped) AS BIGINT) AS n_dropped_docs,
               CAST(SUM(dropped * n_tok) AS BIGINT) AS n_dropped_tokens,
               ROUND(CAST(SUM(dropped * n_tok) AS DOUBLE)
                     / CAST(SUM(n_tok) AS DOUBLE), 6)
                   AS token_savings_rate
        FROM flagged
        GROUP BY source
    """,
    "q23_exact_dedup": """
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
               MIN(doc_id) AS representative,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1
    """,
    "q241_split_leakage": f"""
        WITH {_SHINGLES_CTE},
        hot AS (SELECT shingle FROM ex
                GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
        exc AS (SELECT e.doc_id, e.shingle FROM ex e
                ANTI JOIN hot h ON e.shingle = h.shingle),
        exn AS (SELECT doc_id,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n_sh,
                       shingle
                FROM exc),
        p AS (SELECT id1, id2 FROM (
                SELECT a.doc_id AS id1, b.doc_id AS id2,
                       CAST(COUNT(*) AS DOUBLE)
                           / (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*)) AS jaccard
                FROM exn a JOIN exn b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
              WHERE jaccard >= {JACCARD_THRESHOLD}),
        sp AS (SELECT doc_id,
                      CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                           THEN 'test'
                           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                           THEN 'val'
                           ELSE 'train' END AS split
               FROM documents),
        e2 AS (SELECT LEAST(a.split, b.split) AS split_a,
                      GREATEST(a.split, b.split) AS split_b,
                      unnest([id1, id2]) AS doc
               FROM p JOIN sp a ON a.doc_id = id1
                      JOIN sp b ON b.doc_id = id2)
        SELECT split_a, split_b,
               CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
        FROM e2 GROUP BY split_a, split_b
    """,
    "q24_jaccard_pairs": f"""
        WITH {_SHINGLES_CTE},
        hot AS (SELECT shingle FROM ex
                GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
        exc AS (SELECT e.doc_id, e.shingle FROM ex e
                ANTI JOIN hot h ON e.shingle = h.shingle),
        exn AS (SELECT doc_id,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n_sh,
                       shingle
                FROM exc)
        SELECT id1, id2, jaccard FROM (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(COUNT(*) AS DOUBLE)
                       / (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*)) AS jaccard
            FROM exn a JOIN exn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    "q85_crosssource_leakage": f"""
        WITH {_SHINGLES_CTE},
        sigs AS (SELECT doc_id, {_SIG_MIN} FROM ex GROUP BY doc_id),
        bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sigs),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        scored AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(COUNT(*) AS DOUBLE)
                       / (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*)) AS jaccard
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
        nd AS (SELECT s.id1, s.id2, s.jaccard
               FROM scored s JOIN cand c ON s.id1 = c.id1 AND s.id2 = c.id2
               WHERE s.jaccard >= {JACCARD_THRESHOLD})
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               COUNT(*) AS n_pairs,
               MAX(p.jaccard) AS max_jaccard,
               ROUND(AVG(p.jaccard), 6) AS avg_jaccard
        FROM nd p
        JOIN documents da ON da.doc_id = p.id1
        JOIN documents db ON db.doc_id = p.id2
        GROUP BY 1, 2
    """,
    "q123_containment_dedup": f"""
        WITH {_SHINGLES_CTE},
        hot AS (SELECT shingle FROM ex
                GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
        exc AS (SELECT e.doc_id, e.shingle FROM ex e
                ANTI JOIN hot h ON e.shingle = h.shingle),
        exn AS (SELECT doc_id,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n_sh,
                       shingle
                FROM exc),
        scored AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   COUNT(*) AS n_common,
                   MIN(a.n_sh) AS n1, MIN(b.n_sh) AS n2
            FROM exn a JOIN exn b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT s.id1, s.id2, s.n_common,
               ROUND(CAST(s.n_common AS DOUBLE) / s.n1, 6) AS c_1_in_2,
               ROUND(CAST(s.n_common AS DOUBLE) / s.n2, 6) AS c_2_in_1,
               ROUND(CAST(s.n_common AS DOUBLE)
                     / (s.n1 + s.n2 - s.n_common), 6) AS jaccard
        FROM scored s
        WHERE GREATEST(ROUND(CAST(s.n_common AS DOUBLE) / s.n1, 6),
                       ROUND(CAST(s.n_common AS DOUBLE) / s.n2, 6))
              >= {CONTAINMENT_THRESHOLD}
    """,
    "q288_minhash_recall_audit": f"""
        WITH {_SHINGLES_CTE},
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   COUNT(*) AS inter,
                   MIN(a.n_sh) AS n1, MIN(b.n_sh) AS n2
            FROM ex a JOIN ex b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
            WHERE a.doc_id < 64
            GROUP BY 1, 2),
        truth AS (
            SELECT id1, id2,
                   CASE WHEN 10 * inter >= 7 * (n1 + n2 - inter)
                            THEN 'high_0.70+'
                        WHEN 2 * inter >= (n1 + n2 - inter)
                            THEN 'mid_0.50'
                        ELSE 'low_0.40' END AS jac_band
            FROM inter
            WHERE 5 * inter >= 2 * (n1 + n2 - inter)),
        sigs AS (SELECT doc_id, {_SIG_MIN} FROM ex GROUP BY doc_id),
        bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key
                  FROM sigs),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        -- found = truth ∩ banded candidates: the q25 verifier applies
        -- the SAME exact-Jaccard rule, so its output restricted to the
        -- probes is exactly the truth pairs that banded together
        hits AS (SELECT t.id1, t.id2, t.jac_band
                 FROM truth t JOIN cand c
                   ON c.id1 = t.id1 AND c.id2 = t.id2)
        SELECT t.jac_band,
               CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(COUNT(h.id1) AS BIGINT) AS n_found,
               ROUND(CAST(COUNT(h.id1) AS DOUBLE) / COUNT(*), 6) AS recall
        FROM truth t
        LEFT JOIN hits h ON h.id1 = t.id1 AND h.id2 = t.id2
        GROUP BY t.jac_band
    """,
    "q25_minhash_lsh": minhash_pairs_sql_scaled(JACCARD_THRESHOLD),
    # q290: the depth grid DERIVED from COUNT(*) exactly as the engine
    # derives it from corpus_row_count (r0 = GREATEST(2,
    # (LENGTH(bin(n-1)) - 5) // 3); grid = {GREATEST(1, r0-1), r0,
    # r0+1}). One per-(doc, hash) MIN at the max depth's 4*(r0+1)
    # hashes; each depth bands its first 4*r hashes by i // r with the
    # same md5('|'-joined block) key minhash_band_frame emits. chosen
    # = cheapest log2 cost BUCKET clearing the 0.45 floor, bucket ties
    # to the shallower depth; else max recall (the q289 convention).
    "q290_minhash_sizing_tuner": f"""
        WITH {_SHINGLES_CTE},
        cfg AS (SELECT GREATEST(2, (LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) - 5) // 3)
                           AS r0
                FROM documents),
        depths AS (SELECT DISTINCT unnest([GREATEST(1, r0 - 1), r0, r0 + 1])
                              AS r
                   FROM cfg),
        hs AS (SELECT unnest(range(0, 4 * (r0 + 1))) AS i FROM cfg),
        minv AS (SELECT e.doc_id, h.i,
                        MIN(md5(h.i || '§' || e.shingle)) AS mv
                 FROM ex e CROSS JOIN hs h
                 GROUP BY e.doc_id, h.i),
        bands AS (SELECT d.r, m.doc_id,
                         md5(string_agg(m.mv, '|' ORDER BY m.i)) AS band_key
                  FROM minv m CROSS JOIN depths d
                  WHERE m.i < 4 * d.r
                  GROUP BY d.r, m.doc_id, m.i // d.r),
        cand AS (SELECT DISTINCT a.r, a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.r = b.r AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   COUNT(*) AS inter,
                   MIN(a.n_sh) AS n1, MIN(b.n_sh) AS n2
            FROM ex a JOIN ex b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
            WHERE a.doc_id < 64
            GROUP BY 1, 2),
        truth AS (SELECT id1, id2 FROM inter
                  WHERE 5 * inter >= 2 * (n1 + n2 - inter)),
        ncand AS (SELECT r, COUNT(*) AS n_candidates FROM cand GROUP BY r),
        found AS (SELECT c.r, COUNT(*) AS n_found
                  FROM cand c JOIN truth t
                    ON t.id1 = c.id1 AND t.id2 = c.id2
                  GROUP BY c.r),
        ntrue AS (SELECT COUNT(*) AS n_true FROM truth),
        -- grid drives from the depths CTE (not ncand), so a config whose
        -- banding yields ZERO candidates still emits its row with
        -- n_candidates = 0 — mirroring the engine's
        -- counts.crossJoin(n_cand), which always materializes all grid
        -- cells (ADVICE r11 #1).
        grid AS (SELECT 'bands4x' || d.r AS config,
                        CAST(d.r AS INT) AS rows_per_band,
                        CASE WHEN d.r = c.r0 THEN 1 ELSE 0 END AS derived,
                        COALESCE(n.n_candidates, 0) AS n_candidates,
                        t.n_true,
                        COALESCE(f.n_found, 0) AS n_found,
                        ROUND(CAST(COALESCE(f.n_found, 0) AS DOUBLE)
                              / t.n_true, 6) AS recall,
                        CASE WHEN 20 * COALESCE(f.n_found, 0) >= 9 * t.n_true
                             THEN 1 ELSE 0 END AS meets_floor
                 FROM depths d
                 CROSS JOIN ntrue t
                 CROSS JOIN cfg c
                 LEFT JOIN ncand n ON n.r = d.r
                 LEFT JOIN found f ON f.r = d.r),
        win AS (SELECT config FROM grid
                ORDER BY meets_floor DESC,
                         CASE WHEN meets_floor = 1
                              THEN CAST(LENGTH(bin(n_candidates)) AS DOUBLE)
                              ELSE -recall END,
                         rows_per_band
                LIMIT 1)
        SELECT g.config, g.rows_per_band, g.derived,
               CAST(g.n_candidates AS BIGINT) AS n_candidates,
               CAST(g.n_true AS BIGINT) AS n_true,
               CAST(g.n_found AS BIGINT) AS n_found,
               g.recall, g.meets_floor,
               CASE WHEN w.config IS NOT NULL THEN 1 ELSE 0 END AS chosen
        FROM grid g LEFT JOIN win w ON w.config = g.config
    """,

    "q174_minhash_calibration": f"""
        WITH {_SHINGLES_CTE},
        sigs AS (SELECT doc_id, {_SIG_MIN} FROM ex GROUP BY doc_id),
        bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key
                  FROM sigs),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        scored AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(COUNT(*) AS DOUBLE)
                       / (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*)) AS jaccard
            FROM ex a JOIN ex b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
        est AS (
            SELECT c.id1, c.id2,
                   ({" + ".join(f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END" for i in range(DD.N_HASHES))})
                       / {float(DD.N_HASHES)!r} AS est
            FROM cand c
            JOIN sigs a ON a.doc_id = c.id1
            JOIN sigs b ON b.doc_id = c.id2),
        pairs AS (
            SELECT s.jaccard, e.est
            FROM scored s JOIN est e
              ON e.id1 = s.id1 AND e.id2 = s.id2),
        terms AS (
            SELECT {_CAL_BIN} AS jaccard_bin,
                   {_CAL_J} AS tj, {_CAL_E} AS te, {_CAL_AE} AS tae
            FROM pairs)
        SELECT jaccard_bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(CAST(SUM(tj) AS DOUBLE) / COUNT(*), 6) AS avg_exact,
               ROUND(CAST(SUM(te) AS DOUBLE) / COUNT(*), 6) AS avg_est,
               ROUND(CAST(SUM(tae) AS DOUBLE) / COUNT(*), 6)
                   AS avg_abs_err
        FROM terms GROUP BY jaccard_bin
    """,
    "q71_incremental_neardup": f"""
        WITH {_SHINGLES_CTE},
        sigs AS (SELECT doc_id, {_SIG_MIN} FROM ex GROUP BY doc_id),
        bands AS (SELECT doc_id, unnest([{_BAND_LIST}]) AS band_key FROM sigs),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b ON a.band_key = b.band_key
                 WHERE a.doc_id >= {INCREMENTAL_SPLIT}
                   AND b.doc_id < {INCREMENTAL_SPLIT}),
        scored AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(COUNT(*) AS DOUBLE)
                       / (MIN(a.n_sh) + MIN(b.n_sh) - COUNT(*)) AS jaccard
            FROM ex a JOIN ex b ON a.shingle = b.shingle
            WHERE a.doc_id >= {INCREMENTAL_SPLIT}
              AND b.doc_id < {INCREMENTAL_SPLIT}
            GROUP BY a.doc_id, b.doc_id)
        SELECT s.id1, s.id2, s.jaccard
        FROM scored s JOIN cand c ON s.id1 = c.id1 AND s.id2 = c.id2
        WHERE s.jaccard >= {JACCARD_THRESHOLD}
    """,
    "q223_dedup_bias_audit": f"""
        WITH kept AS (
            SELECT MIN(doc_id) AS keep_id
            FROM documents GROUP BY md5(text)),
        post AS (
            SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_post
            FROM documents d
            WHERE d.doc_id IN (SELECT keep_id FROM kept)
            GROUP BY d.lang),
        pre AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pre
            FROM documents GROUP BY lang),
        g AS (
            SELECT p.lang, p.n_pre,
                   COALESCE(q.n_post, 0) AS n_post
            FROM pre p LEFT JOIN post q ON q.lang = p.lang),
        tot AS (
            SELECT CAST(SUM(n_pre) AS BIGINT) AS t_pre,
                   CAST(SUM(n_post) AS BIGINT) AS t_post
            FROM g)
        SELECT lang, n_pre, n_post,
               ROUND(CAST(n_pre AS DOUBLE) / CAST(t_pre AS DOUBLE), 6)
                   AS share_pre,
               ROUND(CAST(n_post AS DOUBLE) / CAST(t_post AS DOUBLE), 6)
                   AS share_post,
               CAST({_DEDUP_PSI} AS DOUBLE) AS psi_contrib,
               n_post = 0 AS vanished
        FROM g, tot
    """,
    "q222_dimension_audit": f"""
        WITH coords AS (
            SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings),
        g AS (
            SELECT pos,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(v AS DECIMAL(38,25))) AS sv,
                   SUM(CAST(v * v AS DECIMAL(38,25))) AS sv2
            FROM coords GROUP BY pos)
        SELECT pos,
               n AS n_vecs,
               {_DIM_MEAN} AS mean,
               {_DIM_VAR} AS variance,
               {_DIM_VAR} < 0.0001 AS collapsed
        FROM g
    """,
    "q201_knn_classifier": """
        WITH e AS (SELECT vec_id, label,
                          generate_subscripts(embedding, 1) AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS qid, pos, v AS qv FROM e WHERE vec_id < 24),
        c AS (SELECT vec_id AS cid, pos, v FROM e WHERE vec_id >= 24),
        dots AS (SELECT qid, cid,
                        SUM(CAST(c.v * q.qv AS DECIMAL(38,25))) AS dot
                 FROM c JOIN q USING (pos)
                 GROUP BY qid, cid),
        norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
                  FROM e GROUP BY vec_id),
        scored AS (
            SELECT d.qid, d.cid,
                   ROUND(CAST(CAST(dot AS DECIMAL(30,12)) AS DOUBLE)
                       / (sqrt(CAST(CAST(nc.n2 AS DECIMAL(30,12)) AS DOUBLE))
                          * sqrt(CAST(CAST(nq.n2 AS DECIMAL(30,12))
                                      AS DOUBLE))), 6) AS cosine
            FROM dots d
            JOIN norms nc ON nc.vec_id = d.cid
            JOIN norms nq ON nq.vec_id = d.qid),
        lab AS (SELECT vec_id, label FROM embeddings),
        top AS (
            SELECT qid, cid, cosine,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cosine DESC, cid) AS rn
            FROM scored),
        votes AS (
            SELECT t.qid, l.label AS cand_label, COUNT(*) AS n_votes
            FROM top t JOIN lab l ON l.vec_id = t.cid
            WHERE t.rn <= 5
            GROUP BY t.qid, l.label),
        pred AS (
            SELECT qid, cand_label, CAST(n_votes AS BIGINT) AS n_votes,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY n_votes DESC, cand_label)
                       AS vr
            FROM votes)
        SELECT p.qid,
               ql.label AS true_label,
               p.cand_label AS predicted_label,
               p.n_votes,
               p.cand_label = ql.label AS correct
        FROM pred p JOIN lab ql ON ql.vec_id = p.qid
        WHERE p.vr = 1
    """,
    "q26_cosine_topk": """
        WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
        dots AS (SELECT e.vec_id,
                        SUM(CAST(e.v * q.qv AS DECIMAL(38,25))) AS dot,
                        SUM(CAST(e.v * e.v AS DECIMAL(38,25))) AS n2
                 FROM e JOIN q USING (pos)
                 GROUP BY e.vec_id),
        qn AS (SELECT SUM(CAST(qv * qv AS DECIMAL(38,25))) AS qn2 FROM q),
        scored AS (
            SELECT vec_id,
                   ROUND(CAST(CAST(dot AS DECIMAL(30,12)) AS DOUBLE)
                       / (sqrt(CAST(CAST(n2 AS DECIMAL(30,12)) AS DOUBLE))
                          * sqrt(CAST(CAST(qn2 AS DECIMAL(30,12)) AS DOUBLE))), 6) AS cosine
            FROM dots, qn)
        SELECT vec_id, cosine, rn FROM (
            SELECT vec_id, cosine,
                   ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rn
            FROM scored)
        WHERE rn <= 10
    """,
    # q27: bucket width derived from COUNT(*) exactly as
    # similarity.signlsh_topk derives it (max(8, ceil_log2(n) - 7));
    # width-independent formulation — bit dimension + string_agg
    # fingerprint (the signlsh_pairs_sql_scaled recipe).
    "q27_ann_signlsh": """
        WITH cfg AS (SELECT GREATEST(8, LENGTH(bin(GREATEST(COUNT(*), 2) - 1)) - 7)
                                AS nb
                     FROM embeddings),
        e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings),
        bits AS (SELECT unnest(range(0, nb)) AS bit FROM cfg),
        proj AS (SELECT vec_id, bit,
                        SUM(CAST((CASE WHEN substr(md5(bit || '_' || pos), 1, 1) >= '8'
                                       THEN 1.0 ELSE -1.0 END) * v AS DECIMAL(38,25))) AS p
                 FROM e CROSS JOIN bits
                 GROUP BY vec_id, bit),
        buckets AS (SELECT vec_id,
                           string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END,
                                      '' ORDER BY bit) AS bucket
                    FROM proj
                    GROUP BY vec_id),
        cand AS (SELECT q.vec_id AS qid, c.vec_id AS cid
                 FROM buckets q JOIN buckets c ON q.bucket = c.bucket
                 WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
        norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2 FROM e GROUP BY vec_id),
        dots AS (SELECT cand.qid, cand.cid, SUM(CAST(qe.v * ce.v AS DECIMAL(38,25))) AS dot
                 FROM cand
                 JOIN e qe ON qe.vec_id = cand.qid
                 JOIN e ce ON ce.vec_id = cand.cid AND ce.pos = qe.pos
                 GROUP BY cand.qid, cand.cid),
        scored AS (SELECT d.qid, d.cid,
                          ROUND(CAST(CAST(d.dot AS DECIMAL(30,12)) AS DOUBLE)
                              / (sqrt(CAST(CAST(nq.n2 AS DECIMAL(30,12)) AS DOUBLE))
                                 * sqrt(CAST(CAST(nc.n2 AS DECIMAL(30,12)) AS DOUBLE))), 6) AS cosine
                   FROM dots d
                   JOIN norms nq ON nq.vec_id = d.qid
                   JOIN norms nc ON nc.vec_id = d.cid),
        ranked AS (SELECT qid AS query_id, cid AS vec_id, cosine,
                          ROW_NUMBER() OVER (
                              PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
                   FROM scored)
        SELECT query_id, vec_id, cosine, rn FROM ranked WHERE rn <= 3
    """,
    "q35_multimodal_features": """
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'image'
                               WHEN 1 THEN 'audio'
                               ELSE 'video' END AS kind,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               sha256(text) AS content_sha256
        FROM documents
    """,
    "q75_image_resize": """
        WITH m AS (
            SELECT doc_id AS media_id,
                   CAST(100 + doc_id % 1900 AS INT) AS width,
                   CAST(100 + (doc_id * 7) % 1200 AS INT) AS height
            FROM documents
            WHERE text IS NOT NULL
        )
        SELECT media_id, width, height,
               CAST(CASE WHEN GREATEST(width, height) <= 256 THEN width
                    ELSE GREATEST(1, (width * 256) // GREATEST(width, height))
                    END AS INT) AS new_width,
               CAST(CASE WHEN GREATEST(width, height) <= 256 THEN height
                    ELSE GREATEST(1, (height * 256) // GREATEST(width, height))
                    END AS INT) AS new_height
        FROM m
    """,
    "q39_deterministic_sample": """
        SELECT source,
               COUNT(*) AS n_sampled,
               MIN(doc_id) AS min_id,
               MAX(doc_id) AS max_id
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '28'
        GROUP BY source
    """,
    "q40_sequence_pack": """
        SELECT doc_id, source,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
               CAST(floor((SUM(len(string_split_regex(lower(trim(text)), '\\s+')))
                               OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING)
                           - len(string_split_regex(lower(trim(text)), '\\s+')))
                          / 4096.0) AS BIGINT) AS bin_id
        FROM documents
    """,
    "q41_scrub": """
        SELECT doc_id,
               length(text) AS n_chars_before,
               length(trim(regexp_replace(regexp_replace(text, '[^\\w\\s]', '', 'g'),
                                          '\\s+', ' ', 'g'))) AS n_chars_after,
               length(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct_removed,
               md5(trim(regexp_replace(regexp_replace(text, '[^\\w\\s]', '', 'g'),
                                       '\\s+', ' ', 'g'))) AS scrubbed_fp
        FROM documents
    """,
    "q46_udtf_chunk": """
        SELECT doc_id,
               CAST(i - 1 AS INT) AS chunk_idx,
               substr(text, (i - 1) * 100 + 1, 100) AS chunk
        FROM documents,
             UNNEST(range(1, GREATEST(CAST(ceil(length(text) / 100.0) AS BIGINT), 1) + 1)) AS t(i)
    """,
    "q47_dedup_clusters": _CLUSTER_CTES + """
        SELECT id AS doc_id, rep AS cluster_rep FROM l4
    """,
    "q173_quality_representatives": _CLUSTER_CTES + f""",
        qfeats AS (SELECT doc_id,
                          len({_TOK}) AS n_tokens,
                          CAST(length(regexp_extract_all(text, '[^\\w\\s]'))
                               AS DOUBLE) / length(text) AS punct_ratio,
                          CAST(len(list_filter({_TOK},
                                   t -> t IN {_STOP_SQL})) AS DOUBLE)
                              / len({_TOK}) AS stop_ratio,
                          CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                               AS DOUBLE) / len({_TOK}) AS avg_tok_len
                   FROM documents),
        qs AS (SELECT doc_id,
                      (CASE WHEN n_tokens BETWEEN 10 AND 1000
                            THEN 1 ELSE 0 END
                       + CASE WHEN punct_ratio <= 0.1 THEN 1 ELSE 0 END
                       + CASE WHEN stop_ratio >= 0.03 THEN 1 ELSE 0 END
                       + CASE WHEN avg_tok_len <= 12 THEN 1 ELSE 0 END)
                          AS q
               FROM qfeats),
        memb AS (SELECT l.rep AS cluster, l.id AS doc_id, q.q
                 FROM l4 l JOIN qs q ON q.doc_id = l.id),
        mrk AS (SELECT cluster, doc_id, q,
                       ROW_NUMBER() OVER (PARTITION BY cluster
                                          ORDER BY q DESC, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY cluster) AS nm
                FROM memb)
        SELECT cluster, CAST(nm AS BIGINT) AS n_members,
               doc_id AS rep_doc_id, CAST(q AS INT) AS rep_quality,
               doc_id <> cluster AS moved
        FROM mrk WHERE rn = 1
    """,
    "q72_dedup_keep_list": _CLUSTER_CTES + """
        SELECT d.doc_id
        FROM documents d
        ANTI JOIN (SELECT id FROM l4 WHERE id <> rep) x
          ON d.doc_id = x.id
    """,
    "q77_training_prep": _CLUSTER_CTES + f""",
        keep AS (SELECT d.doc_id, d.source, d.text FROM documents d
                 ANTI JOIN (SELECT id FROM l4 WHERE id <> rep) x
                   ON d.doc_id = x.id),
        feats AS (SELECT doc_id, source,
                         len({_TOK}) AS n_tokens,
                         CAST(length(regexp_extract_all(text, '[^\\w\\s]'))
                              AS DOUBLE) / length(text) AS punct_ratio,
                         CAST(len(list_filter({_TOK},
                                  t -> t IN {_STOP_SQL})) AS DOUBLE)
                             / len({_TOK}) AS stop_ratio,
                         CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                              AS DOUBLE) / len({_TOK}) AS avg_tok_len
                  FROM keep),
        f AS (SELECT doc_id, source, n_tokens FROM feats
              WHERE (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
                     + CASE WHEN punct_ratio <= 0.1 THEN 1 ELSE 0 END
                     + CASE WHEN stop_ratio >= 0.03 THEN 1 ELSE 0 END
                     + CASE WHEN avg_tok_len <= 12 THEN 1 ELSE 0 END) = 4)
        SELECT doc_id, source, n_tokens,
               CAST(floor((SUM(n_tokens) OVER (PARTITION BY source
                                ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                           - n_tokens) / 4096.0) AS BIGINT) AS bin_id
        FROM f
    """,
    "q28_simhash": simhash_pairs_sql_scaled(6),
    "q296_simhash_capped": simhash_pairs_sql_scaled(6, capped=True),
    # q294: probe-bounded truth = all hamming<=6 pairs over the SAME
    # derived-width fingerprints WITHOUT banding; found = the banded
    # candidates among them (the verifier applies truth's own hamming
    # rule, so the intersection IS the banded recall).
    # q295: per-band bucket histogram from the same derived-width
    # fingerprints; skew = measured sum C(c,2) over the uniform
    # C(n,2)/2^w (both sides double-divide in the same order).
    "q295_simhash_bucket_skew": f"""
        WITH {_SHINGLES_CTE},
        {_SIMHASH_FPS_CTES},
        bcnt AS (SELECT band_idx, band_val, COUNT(*) AS c
                 FROM bands GROUP BY band_idx, band_val)
        SELECT b.band_idx,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(MAX(b.c) AS BIGINT) AS max_bucket,
               CAST(SUM(b.c * (b.c - 1) // 2) AS BIGINT) AS collision_mass,
               ROUND(CAST(SUM(b.c * (b.c - 1) // 2) AS BIGINT)
                     / ((SUM(b.c) * (SUM(b.c) - 1) / 2)
                        / POWER(2.0, (SELECT w FROM cfg))), 6)
                   AS skew_vs_uniform
        FROM bcnt b
        GROUP BY b.band_idx
    """,
    "q294_simhash_recall_audit": f"""
        WITH {_SHINGLES_CTE},
        {_SIMHASH_FPS_CTES},
        probes AS (SELECT doc_id, bits FROM fps WHERE doc_id < 64),
        truth AS (SELECT id1, id2, hamming FROM (
                    SELECT p.doc_id AS id1, f.doc_id AS id2,
                           CAST(hamming(p.bits, f.bits) AS INTEGER)
                               AS hamming
                    FROM probes p JOIN fps f ON p.doc_id < f.doc_id)
                  WHERE hamming <= 6)
        SELECT t.hamming,
               CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(COUNT(c.id1) AS BIGINT) AS n_found,
               ROUND(CAST(COUNT(c.id1) AS DOUBLE) / COUNT(*), 6) AS recall
        FROM truth t
        LEFT JOIN cand c ON c.id1 = t.id1 AND c.id2 = t.id2
        GROUP BY t.hamming
    """,
    # q298: q294's audit with candidates routed through the stop-bucket
    # cap (the shared _SIMHASH_CAP_CTES fragment) — found reads candc
    "q298_simhash_capped_recall_audit": f"""
        WITH {_SHINGLES_CTE},
        {_SIMHASH_FPS_CTES}{_SIMHASH_CAP_CTES},
        probes AS (SELECT doc_id, bits FROM fps WHERE doc_id < 64),
        truth AS (SELECT id1, id2, hamming FROM (
                    SELECT p.doc_id AS id1, f.doc_id AS id2,
                           CAST(hamming(p.bits, f.bits) AS INTEGER)
                               AS hamming
                    FROM probes p JOIN fps f ON p.doc_id < f.doc_id)
                  WHERE hamming <= 6)
        SELECT t.hamming,
               CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(COUNT(c.id1) AS BIGINT) AS n_found,
               ROUND(CAST(COUNT(c.id1) AS DOUBLE) / COUNT(*), 6) AS recall
        FROM truth t
        LEFT JOIN candc c ON c.id1 = t.id1 AND c.id2 = t.id2
        GROUP BY t.hamming
    """,
    "q29_embed_neardup": _Q29_SQL_SCALED,
    "q154_neardup_degrees": f"""
        WITH pairs AS (SELECT id1, id2 FROM ({_Q29_SQL_SCALED}) q29),
        edges AS (SELECT id1 AS id FROM pairs
                  UNION ALL
                  SELECT id2 AS id FROM pairs),
        deg AS (SELECT id, COUNT(*) AS degree FROM edges GROUP BY id),
        fulld AS (
            SELECT e.vec_id, CAST(COALESCE(d.degree, 0) AS BIGINT)
                       AS degree
            FROM (SELECT DISTINCT vec_id FROM embeddings) e
            LEFT JOIN deg d ON d.id = e.vec_id)
        SELECT degree, COUNT(*) AS n_vecs
        FROM fulld GROUP BY degree
    """,
    "q156_fuzzy_name_join": """
        SELECT a.c_custkey AS id1, b.c_custkey AS id2,
               levenshtein(a.c_name, b.c_name) AS dist
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND abs(len(a.c_name) - len(b.c_name)) <= 1
         AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    "q157_graph_triangles": f"""
        WITH pairs AS MATERIALIZED (
            SELECT id1 AS i, id2 AS j
            FROM ({signlsh_pairs_sql_scaled("0.25")}) p),
        deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS d
                FROM (SELECT i AS id FROM pairs
                      UNION ALL SELECT j AS id FROM pairs)
                GROUP BY id),
        agg AS (SELECT
            (SELECT COUNT(*) FROM pairs) AS n_edges,
            (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) FROM deg)
                AS n_wedges,
            (SELECT COUNT(*)
             FROM pairs e1
             JOIN pairs e2 ON e2.i = e1.j
             JOIN pairs e3 ON e3.i = e1.i AND e3.j = e2.j)
                AS n_triangles)
        SELECT n_edges, n_wedges, n_triangles,
               {_TRI_CC} AS global_clustering
        FROM agg
    """,

    "q30_ivf_ann": f"""
        WITH {_IVF_CFG_CTE},
        e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
                  FROM e GROUP BY vec_id),
        adots AS (SELECT e.vec_id AS vid, c.vec_id AS cid,
                         CAST(SUM(CAST(e.v * c.v AS DECIMAL(38,25)))
                              AS DOUBLE) AS dot
                  FROM e JOIN e c ON c.pos = e.pos
                   AND c.vec_id < (SELECT nlist FROM ivfcfg)
                  GROUP BY e.vec_id, c.vec_id),
        -- probe ranking by the double formula (ivf_topk's
        -- assign_exact=False default since round 12) — identical to
        -- q60's pranked, hash-exact there since r4; the final
        -- candidate re-rank below stays decimal-exact
        ranked_cent AS (
            SELECT vid, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY vid
                       ORDER BY a.dot / (sqrt(CAST(nv.n2 AS DOUBLE))
                                         * sqrt(CAST(nc.n2 AS DOUBLE)))
                                    DESC,
                                cid) AS crn
            FROM adots a
            JOIN norms nv ON nv.vec_id = a.vid
            JOIN norms nc ON nc.vec_id = a.cid),
        assign AS (SELECT vid AS cand_id, cid FROM ranked_cent WHERE crn = 1),
        probes AS (SELECT vid AS qid, cid FROM ranked_cent
                   WHERE crn <= (SELECT np FROM ivfcfg) AND vid < 20),
        cands AS (SELECT p.qid, a.cand_id AS cid2
                  FROM probes p JOIN assign a ON a.cid = p.cid
                  WHERE p.qid <> a.cand_id),
        dots AS (SELECT c.qid, c.cid2, SUM(CAST(qe.v * ce.v AS DECIMAL(38,25))) AS dot
                 FROM cands c
                 JOIN e qe ON qe.vec_id = c.qid
                 JOIN e ce ON ce.vec_id = c.cid2 AND ce.pos = qe.pos
                 GROUP BY c.qid, c.cid2),
        ranked AS (
            SELECT d.qid AS query_id, d.cid2 AS vec_id,
                   {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nc.n2")} AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.qid
                       ORDER BY {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nc.n2")} DESC,
                                d.cid2) AS rn
            FROM dots d
            JOIN norms nq ON nq.vec_id = d.qid
            JOIN norms nc ON nc.vec_id = d.cid2)
        SELECT query_id, vec_id, cosine, rn FROM ranked WHERE rn <= 3
    """,
    "q60_ivf_kmeans_ann": _KM_CTES
    + f""",
        norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
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
        kassign AS (SELECT vid AS cand_id, cid FROM pranked WHERE crn = 1),
        kprobes AS (SELECT vid AS qid, cid FROM pranked
                    WHERE crn <= (SELECT np FROM ivfcfg) AND vid < 20),
        kcands AS (SELECT p.qid, a.cand_id AS cid2
                   FROM kprobes p JOIN kassign a ON a.cid = p.cid
                   WHERE p.qid <> a.cand_id),
        kdots AS (SELECT c.qid, c.cid2,
                         SUM(CAST(qe.v * ce.v AS DECIMAL(38,25))) AS dot
                  FROM kcands c
                  JOIN e qe ON qe.vec_id = c.qid
                  JOIN e ce ON ce.vec_id = c.cid2 AND ce.pos = qe.pos
                  GROUP BY c.qid, c.cid2),
        kranked AS (
            SELECT d.qid AS query_id, d.cid2 AS vec_id,
                   {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nc.n2")} AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.qid
                       ORDER BY {_SCORE.format(dot="d.dot", n1="nq.n2", n2="nc.n2")} DESC,
                                d.cid2) AS rn
            FROM kdots d
            JOIN norms nq ON nq.vec_id = d.qid
            JOIN norms nc ON nc.vec_id = d.cid2)
        SELECT query_id, vec_id, cosine, rn FROM kranked WHERE rn <= 3
    """,
    # q167: the SAME trained centroids (cent3), every (vector,
    # centroid) pair scored with the q30 decimal-exact cosine, then
    # the silhouette chain over the two nearest — term strings shared
    # verbatim with the Spark side (SIM._SIL_TERM / SIM._DA_DEC).
    "q167_cluster_silhouette": _KM_CTES
    + f""",
        snx AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
                FROM e GROUP BY vec_id),
        scn AS (SELECT cid, SUM(CAST(v * v AS DECIMAL(38,25))) AS cn2
                FROM cent3 GROUP BY cid),
        sdots AS (SELECT e.vec_id AS vid, c.cid,
                         SUM(CAST(e.v * c.v AS DECIMAL(38,25))) AS dot
                  FROM e JOIN cent3 c ON c.pos = e.pos
                  GROUP BY e.vec_id, c.cid),
        scos AS (SELECT d.vid, d.cid,
                        {_SCORE.format(dot="d.dot", n1="nv.n2", n2="cn.cn2")}
                            AS cos
                 FROM sdots d
                 JOIN snx nv ON nv.vec_id = d.vid
                 JOIN scn cn ON cn.cid = d.cid),
        srk AS (SELECT vid, cid, 1.0 - cos AS d,
                       ROW_NUMBER() OVER (PARTITION BY vid
                                          ORDER BY cos DESC, cid) AS rn
                FROM scos),
        spv AS (SELECT vid,
                       MIN(CASE WHEN rn = 1 THEN cid END) AS cid,
                       MIN(CASE WHEN rn = 1 THEN d END) AS da,
                       MIN(CASE WHEN rn = 2 THEN d END) AS db
                FROM srk WHERE rn <= 2 GROUP BY vid),
        sterms AS (SELECT cid, {SIM._DA_DEC} AS dd, {SIM._SIL_TERM} AS s
                   FROM spv)
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               ROUND(CAST(SUM(dd) AS DOUBLE) / COUNT(*), 6)
                   AS avg_intra_dist,
               ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6)
                   AS avg_silhouette
        FROM sterms GROUP BY cid
    """,
    "q73_pq_ann": _PQ_CTES
    + """
        SELECT vec_id, adc_dist, rn FROM adc_ranked WHERE rn <= 5
    """,
    "q74_pq_rerank_ann": _PQ_CTES
    + f""",
        short AS (SELECT vec_id FROM adc_ranked WHERE rn <= 20),
        e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings),
        q2 AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
        qn AS (SELECT SUM(CAST(qv * qv AS DECIMAL(38,25))) AS qn2 FROM q2),
        dots AS (SELECT e.vec_id,
                        SUM(CAST(e.v * q2.qv AS DECIMAL(38,25))) AS dot,
                        SUM(CAST(e.v * e.v AS DECIMAL(38,25))) AS n2
                 FROM e
                 JOIN q2 USING (pos)
                 JOIN short s ON s.vec_id = e.vec_id
                 GROUP BY e.vec_id),
        rer AS (SELECT d.vec_id,
                       {_SCORE.format(dot="d.dot", n1="d.n2", n2="qn.qn2")} AS cosine
                FROM dots d, qn)
        SELECT vec_id, cosine, rn FROM (
            SELECT vec_id, cosine,
                   ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rn
            FROM rer)
        WHERE rn <= 3
    """,
    "q83_ivfpq_ann": _PQ_CTES
    + f""",
        {_IVF_CFG_CTE},
        e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings),
        norms AS (SELECT vec_id, SUM(CAST(v * v AS DECIMAL(38,25))) AS n2
                  FROM e GROUP BY vec_id),
        adots AS (SELECT e.vec_id AS avid, c.vec_id AS acid,
                         CAST(SUM(CAST(e.v * c.v AS DECIMAL(38,25)))
                              AS DOUBLE) AS dot
                  FROM e JOIN e c ON c.pos = e.pos
                   AND c.vec_id < (SELECT nlist FROM ivfcfg)
                  GROUP BY e.vec_id, c.vec_id),
        -- probe ranking by the double formula (ivfpq_topk's
        -- assign_exact=False since late round 12 — the q30/q60
        -- convention); the ADC scan below is unaffected
        ranked_cent AS (
            SELECT avid, acid,
                   ROW_NUMBER() OVER (
                       PARTITION BY avid
                       ORDER BY a.dot / (sqrt(CAST(nv.n2 AS DOUBLE))
                                         * sqrt(CAST(nc.n2 AS DOUBLE)))
                                    DESC,
                                acid) AS crn
            FROM adots a
            JOIN norms nv ON nv.vec_id = a.avid
            JOIN norms nc ON nc.vec_id = a.acid),
        assignc AS (SELECT avid AS cand_id, acid
                    FROM ranked_cent WHERE crn = 1),
        qprobes AS (SELECT acid FROM ranked_cent
                    WHERE crn <= (SELECT np FROM ivfcfg) AND avid = 0),
        pq_cand AS (SELECT a.cand_id
                    FROM assignc a JOIN qprobes p ON p.acid = a.acid
                    WHERE a.cand_id <> 0),
        ivfpq AS (
            SELECT t.vid AS vec_id,
                   ROUND(t.t0 + t.t1 + t.t2 + t.t3, 6) AS adc_dist,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND(t.t0 + t.t1 + t.t2 + t.t3, 6),
                                t.vid) AS rn
            FROM adct t JOIN pq_cand pc ON pc.cand_id = t.vid)
        SELECT vec_id, adc_dist, rn FROM ivfpq WHERE rn <= 5
    """,
}
