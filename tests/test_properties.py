"""Property-based tests (SURVEY.md §5.5): upsert algebra, dedup
invariants, sessionization structure — randomized small frames via
hypothesis, invariants checked exactly.

Spark jobs cost ~100 ms per action, so examples are capped low; the
value is in the generated edge shapes (dup keys, empty updates, single
rows, colliding texts), not example volume.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from weatherapi_data_engineering_project_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
)
from weatherapi_data_engineering_project_spark.operators.upsert import upsert

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

row = st.tuples(
    st.integers(min_value=0, max_value=5),  # key
    st.integers(min_value=0, max_value=100),  # payload
    st.integers(min_value=0, max_value=10),  # version (order_by)
)
rows = st.lists(row, min_size=0, max_size=12)


def _df(spark, data):
    return spark.createDataFrame(
        [(int(k), int(v), int(ver)) for k, v, ver in data],
        "k int, v int, ver int",
    )


@given(target=rows, updates=rows)
@settings(**SETTINGS)
def test_upsert_idempotent_and_key_unique(spark, target, updates):
    """upsert(upsert(t, u), u) == upsert(t, u); result has unique keys
    when the target does."""
    # make target key-unique first (the operator's precondition)
    t = _df(spark, target).dropDuplicates(["k"])
    u = _df(spark, updates)
    order = [F.col("ver").desc(), F.col("v").desc()]
    once = upsert(t, u, ["k"], order_by=order)
    twice = upsert(once, u, ["k"], order_by=order)
    r1 = sorted(map(tuple, once.collect()))
    r2 = sorted(map(tuple, twice.collect()))
    assert r1 == r2
    keys = [r[0] for r in r1]
    assert len(keys) == len(set(keys))


@given(target=rows, updates=rows)
@settings(**SETTINGS)
def test_upsert_covers_both_sides(spark, target, updates):
    """Every update key appears in the result; target rows with keys not
    in updates survive unchanged."""
    t = _df(spark, target).dropDuplicates(["k"])
    u = _df(spark, updates)
    res = upsert(t, u, ["k"], order_by=[F.col("ver").desc(), F.col("v").desc()])
    res_rows = {r.k: (r.v, r.ver) for r in res.collect()}
    u_keys = {r.k for r in u.collect()}
    t_rows = {r.k: (r.v, r.ver) for r in t.collect()}
    assert u_keys <= set(res_rows)
    for k, payload in t_rows.items():
        if k not in u_keys:
            assert res_rows[k] == payload


texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=8
)


@given(docs=texts)
@settings(**SETTINGS)
def test_exact_dedup_partitions_corpus(spark, docs):
    """Groups partition the corpus: sum(n_docs) == n rows, and each
    representative is the min id of its group."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
    )
    res = exact_dedup(df, "text", "doc_id").collect()
    assert sum(r.n_docs for r in res) == len(docs)
    assert len({r.fp for r in res}) == len(res)
    assert all(r.representative is not None for r in res)


@given(docs=texts)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_jaccard_pairs_bounds(spark, docs):
    """Pairs are ordered (id1 < id2) and scores lie in (0, 1]."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
    )
    res = jaccard_pairs(df, "text", "doc_id", threshold=0.01, k=2).collect()
    for r in res:
        assert r.id1 < r.id2
        assert 0.0 < r.jaccard <= 1.0


@given(
    w=st.integers(min_value=1, max_value=100_000),
    h=st.integers(min_value=1, max_value=100_000),
    max_px=st.integers(min_value=1, max_value=10_000),
)
@settings(max_examples=200, deadline=None)
@example(w=1, h=2, max_px=1)  # clamp collapses both sides to 1 (a tie)
def test_bounded_box_properties(w, h, max_px):
    """resize kernel arithmetic (pure function): inside the box is
    identity; outside, the long side lands exactly on max_px, nothing
    upscales, floors clamp to 1, and aspect ordering is preserved
    WEAKLY — the clamp-to-1 floor can collapse a strict inequality to
    a tie (w=1,h=2,max_px=1 → (1,1)), so the strict-order claim only
    holds one-sided."""
    from weatherapi_data_engineering_project_spark.functions.multimodal import (
        bounded_box,
    )

    nw, nh = bounded_box(w, h, max_px)
    assert 1 <= nw <= w and 1 <= nh <= h
    assert max(nw, nh) <= max(max_px, 1)
    if max(w, h) <= max_px:
        assert (nw, nh) == (w, h)
    else:
        assert max(nw, nh) == max_px  # long side lands exactly on the box
        # weak orientation preservation: the longer input side never
        # ends up strictly shorter than the other output side
        if w > h:
            assert nw >= nh
        elif w < h:
            assert nh >= nw
        else:
            assert nw == nh


@given(
    mids=st.lists(
        st.integers(min_value=0, max_value=100_000),
        min_size=1,
        max_size=6,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_wav_codec_round_trip_property(mids):
    """decode(synth(id)) recovers the exact sawtooth for ANY id — the
    codec pair is lossless over its whole domain (pure numpy, no
    Spark action needed)."""
    import numpy as np

    from weatherapi_data_engineering_project_spark.functions.multimodal import (
        decode_wav_pcm,
        synth_wav_pcm,
    )

    for mid in mids:
        sr, s = decode_wav_pcm(synth_wav_pcm(mid))
        p = 64 + mid % 64
        idx = np.arange(2000, dtype=np.int64)
        assert sr == 8000
        assert (s.astype(np.int64) == (idx % p) * 2000 // p - 1000).all()


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=9),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_global_ntile_equals_builtin_property(spark, vals, k):
    """The two-phase bucketed ntile equals F.ntile for arbitrary
    heavy-tie frames and any k — including k > n (every row gets its
    own bucket)."""
    from pyspark.sql.window import Window as Wnd

    from weatherapi_data_engineering_project_spark.plans.analytics import (
        _global_ntile,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got = {
        r.id: r.s for r in _global_ntile(df, "v", "id", k, "s").collect()
    }
    want = {
        r.id: r.s
        for r in df.select(
            "id", F.ntile(k).over(Wnd.orderBy("v", "id")).alias("s")
        ).collect()
    }
    assert got == want


@given(
    docs=st.lists(
        st.text(
            alphabet=st.sampled_from("ab "),
            min_size=0,
            max_size=30,
        ),
        min_size=0,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_containment_verbatim_substring_property(spark, docs):
    """If doc A's text appears verbatim inside doc B's (and A has ≥3
    tokens), the pair's larger containment direction is 1.0 — the
    subset-duplication guarantee q123 exists for."""
    from weatherapi_data_engineering_project_spark.operators.dedup import (
        containment_pairs,
    )

    base = [(i, t) for i, t in enumerate(docs)]
    # plant a guaranteed containment pair on top of the random corpus
    short = "alpha beta gamma delta"
    long_ = "prefix words " + short + " suffix tail words here"
    rows = base + [(100, short), (101, long_)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        frozenset((r.id1, r.id2)): r
        for r in containment_pairs(df, "text", "doc_id", 0.99).collect()
    }
    planted = got.get(frozenset((100, 101)))
    assert planted is not None
    assert max(planted.c_1_in_2, planted.c_2_in_1) == 1.0


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1)),
        min_size=8,
        max_size=400,
    )
)
@settings(max_examples=200, deadline=None)
def test_ca_trend_integer_gate_matches_float(pairs):
    """q198's multiplied-through significance gate (1000·T²·N >
    10828·R·(N−R)·(N·S3−S2²)) agrees with the float z² > 10.828
    verdict whenever z² is clear of the boundary — the no-float-gate
    discipline is a pure re-expression, not an approximation."""
    n = len(pairs)
    r = sum(c for _, c in pairs)
    s1 = sum(w * c for w, c in pairs)
    s2 = sum(w for w, _ in pairs)
    s3 = sum(w * w for w, _ in pairs)
    var_term = n * s3 - s2 * s2
    if not (0 < r < n and var_term > 0):
        return  # degenerate designs are CASE-guarded to NULL
    t = n * s1 - r * s2
    z2 = (t * t * n) / (r * (n - r) * var_term)
    if abs(z2 - 10.828) < 1e-6:
        return  # boundary tie: gate precision is 10828/1000 by design
    gate = 1000 * t * t * n > 10828 * r * (n - r) * var_term
    assert gate == (z2 > 10.828)


@given(st.integers(0, 2000), st.integers(0, 2000))
@settings(max_examples=300, deadline=None)
def test_mcnemar_integer_gate_matches_float(n10, n01):
    """q203's 10000·(n10−n01)² > 38415·(n10+n01) gate ⇔ χ² > 3.8415
    away from the boundary."""
    if n10 + n01 == 0:
        return
    chi2 = (n10 - n01) ** 2 / (n10 + n01)
    if abs(chi2 - 3.8415) < 1e-9:
        return
    assert (10000 * (n10 - n01) ** 2 > 38415 * (n10 + n01)) == (
        chi2 > 3.8415
    )


@given(st.integers(1, 10_000_000), st.sampled_from([5, 95]))
@settings(max_examples=300, deadline=None)
def test_type1_quantile_rank_formula_is_exact_ceil(n, q):
    """q205/q212's integer rank (q·n + 99) DIV 100 equals the exact
    ceil(q·n/100) — no binary-float q*n can straddle a whole number
    (the q95 contract, proven over the whole BIGINT-ish range)."""
    from fractions import Fraction
    import math

    k = (q * n + 99) // 100
    assert k == math.ceil(Fraction(q * n, 100))
    assert 1 <= k <= n


@given(
    st.lists(st.integers(-10_000_00, 10_000_00), min_size=1, max_size=50)
)
@settings(max_examples=100, deadline=None)
def test_running_totals_accepts_all_two_decimal_money(cents):
    """q42's enforced precondition: EVERY 2-decimal money batch is
    accepted and folded exactly (values constructed as cents/100, the
    worst-case binary representations included)."""
    import pandas as pd

    from tests.test_streaming_windows import _FakeGroupState
    from weatherapi_data_engineering_project_spark.streaming import (
        windows as W,
    )

    pdf = pd.DataFrame(
        {
            "value": [c / 100.0 for c in cents],
            "ts": pd.to_datetime(["2024-01-01"] * len(cents)),
        }
    )
    state = _FakeGroupState()
    (out,) = W._update_running_totals((1,), iter([pdf]), state)
    assert out["n_events"][0] == len(cents)
    assert out["sum_value"][0] == sum(cents) / 100.0


@given(n=st.integers(min_value=2, max_value=2**40))
@example(n=8192)
@example(n=8193)
@example(n=2_000_000_000)
@settings(max_examples=200, deadline=None)
def test_scaled_width_rules_properties(n):
    """The corpus-derived LSH sizing rules' contracts, generalized from
    the round-9/10 point checks (pure integer arithmetic, no Spark):

    sign-LSH ``scaled_band_bits``: floored at 4; above the floor the
    width is the MINIMAL bits keeping expected bucket occupancy
    n/2^bb ≤ 128; monotone in n (a growing corpus never narrows).

    MinHash ``scaled_rows_per_band``: floored at 2; equals the integer
    identity max(2, ⌈(⌈log2 n⌉−7)/3⌉); monotone; and the bound the
    docstring CLAIMS holds for every n including the floor region —
    false-candidate mass C(n,2)·J_bg^r ≤ 2^7·n at J_bg = 1/8."""
    import math

    from weatherapi_data_engineering_project_spark.operators.dedup import (
        scaled_rows_per_band,
    )
    from weatherapi_data_engineering_project_spark.operators.similarity import (
        ceil_log2,
        scaled_band_bits,
    )

    assert ceil_log2(n) == math.ceil(math.log2(n))
    bb = scaled_band_bits(n)
    assert bb >= 4
    assert 2**bb >= n / 128 or bb == 4
    if bb > 4:
        assert 2 ** (bb - 1) < n / 128
    assert scaled_band_bits(n + 1) >= bb  # monotone

    r = scaled_rows_per_band(n)
    assert r == max(2, math.ceil((ceil_log2(n) - 7) / 3))
    assert scaled_rows_per_band(n + 1) >= r  # monotone
    # claimed mass bound, exact in integers: n(n-1)/2 · 8^-r ≤ 128·n
    # ⇔ (n-1) ≤ 256 · 8^r
    assert (n - 1) <= 256 * 8**r


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=5),  # hour bucket
            st.booleans(),  # is_click
        ),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=300, deadline=None)
def test_bucket_adjacency_pairing_identity(events):
    """q292's counter arithmetic equals brute-force pair enumeration:
    pairs[u,b] = clicks[u,b]·(purch[u,b] + purch[u,b+1]) summed per
    bucket must count exactly the (click, purchase) pairs of the same
    user whose purchase bucket is the click's or the next — the
    identity that lets the stream hold counters instead of rows."""
    from collections import Counter

    clicks = Counter((u, b) for (u, b, c) in events if c)
    purch = Counter((u, b) for (u, b, c) in events if not c)
    via_counters = Counter()
    for (u, b), nc in clicks.items():
        via_counters[b] += nc * (purch[(u, b)] + purch[(u, b + 1)])
    brute = Counter()
    for (u1, b1, c1) in events:
        if not c1:
            continue
        for (u2, b2, c2) in events:
            if c2 or u2 != u1:
                continue
            if b2 in (b1, b1 + 1):
                brute[b1] += 1
    assert via_counters == brute


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # arrival t
            st.integers(min_value=0, max_value=10),  # lifetime
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=300, deadline=None)
def test_sweep_line_peak_equals_brute_force(pts):
    """q291's sweep-line (+1 at t, −1 at t+life, arrivals before
    evictions on ties, running max) equals the brute-force maximum of
    simultaneously-live intervals over all arrival instants — the
    conservative-peak convention: an interval [t, t+life) is live at
    its own arrival even when life = 0 evicts it in the same tick."""
    deltas = sorted(
        [(t, 0, +1) for (t, life) in pts]
        + [(t + life, 1, -1) for (t, life) in pts]
    )
    run = peak = 0
    for _t, _order, d in deltas:
        run += d
        peak = max(peak, run)
    brute = max(
        sum(1 for (t2, life2) in pts if t2 <= t1 <= t2 + life2 and
            (t2 + life2 > t1 or t2 == t1))
        for (t1, _l) in pts
    )
    assert peak >= brute  # sweep peak dominates every arrival snapshot
    # and is achieved at SOME arrival instant under the tie rule
    achieved = max(
        sum(1 for (t2, life2) in pts if t2 <= t1 and t1 <= t2 + life2)
        for (t1, _l) in pts
    )
    assert peak == achieved


bucket_totals = st.dictionaries(
    st.tuples(st.integers(0, 2), st.integers(0, 7)),  # (g, _bkt)
    st.tuples(st.integers(-20, 50), st.integers(0, 50)),  # (x, y)
    max_size=12,
)


@pytest.mark.parametrize("desc", [False, True])
@pytest.mark.parametrize("by", [(), ("g",)])
@given(cells=bucket_totals, two_aggs=st.booleans())
@example(cells={}, two_aggs=True)  # empty totals frame
@example(cells={(0, 3): (5, 7)}, two_aggs=True)  # a single-bucket group
@example(
    cells={(0, 1): (1, 9), (0, 4): (2, 3), (1, 2): (4, 8)}, two_aggs=False
)
@settings(**{**SETTINGS, "max_examples": 4})
def test_bucket_offsets_equals_python_prefix(spark, cells, by, desc, two_aggs):
    """bucket_offsets gives each (*by, _bkt) the coalesced-to-0
    aggregate over the earlier buckets of its group (the later ones
    when desc) — checked against a plain-Python prefix on random
    totals frames, for sum and for a second max column."""
    from weatherapi_data_engineering_project_spark.plans._buckets import (
        bucket_offsets,
    )

    if not by:  # one totals row per bucket
        cells = {(0, b): v for (_g, b), v in cells.items()}
    bs = spark.createDataFrame(
        [(g, b, x, y) for (g, b), (x, y) in cells.items()],
        "g int, _bkt int, x long, y long",
    )
    if not by:
        bs = bs.drop("g")
    aggs = {"s": (F.sum, "x")}
    if two_aggs:
        aggs["m"] = (F.max, "y")
    offs = bucket_offsets(bs, aggs, by=by, desc=desc)
    assert offs.columns == [*by, "_bkt", *aggs]

    def earlier(b, b2):
        return b2 > b if desc else b2 < b

    want = {}
    for (g, b) in cells:
        prior = [v for (g2, b2), v in cells.items()
                 if g2 == g and earlier(b, b2)]
        off = (sum(x for x, _ in prior),)
        if two_aggs:
            off += (max((y for _, y in prior), default=0),)
        want[(g, b) if by else b] = off
    got = {
        (tuple(r[:2]) if by else r[0]): tuple(r[len(by) + 1:])
        for r in offs.collect()
    }
    assert got == want


@given(
    vals=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False), min_size=0, max_size=60
    )
)
@example(vals=[])
@settings(**{**SETTINGS, "max_examples": 4})
def test_quantile_bounds_and_bucket_of_match_hand_probe(spark, vals):
    """quantile_bounds(n=16) and bucket_of equal the hand-written
    approxQuantile probe and array-filter bucket they replace (the
    [0.0] guard aside: an empty frame gets one bucket), and a value's
    bucket is the count of boundaries strictly below it."""
    from bisect import bisect_left

    from weatherapi_data_engineering_project_spark.plans._buckets import (
        bucket_of,
        quantile_bounds,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    hand = sorted(
        set(df.approxQuantile("v", [i / 16 for i in range(1, 16)], 0.01))
    )
    bnds = quantile_bounds(df, "v", n=16)
    assert bnds == (hand or [0.0])
    rows = df.select(
        "v",
        bucket_of("v", bnds).alias("got"),
        F.size(
            F.filter(F.lit(bnds).cast("array<double>"), lambda b: b < F.col("v"))
        ).alias("hand"),
    ).collect()
    for r in rows:
        assert r.got == r.hand == bisect_left(bnds, r.v)
