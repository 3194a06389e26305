"""SimHash candidate-mass curve (round 11): count the banded candidate
pairs at 1x / 10x / 100x documents under BOTH the corpus-derived width
and the old fixed 32-bit width, and merge the section into an existing
BENCH_SCALE JSON artifact.

This is the same validation BENCH_SCALE10_r10_curve.json ran for
MinHash/sign-LSH after round 10 derived their widths: the quadratic
term the width rule exists to bound is the banded self-join's
candidate count, so the direct evidence for the rule is that measured
candidates grow ~linearly per decade at the derived width while the
fixed width's grow ~quadratically (the q93 shape that cost 20.5x wall
before r10). Counts are exact (COUNT over the distinct banded pairs),
not walls — immune to box drift.

Usage: python tools/simhash_curve.py [artifact.json]
Env: SPARK_GRAFT_SF_DIR (1x corpus, default /root/testdata/sf0.1). The
10x and 100x corpora are measure.scale_dir(10) and scale_dir(100), as
tools/scale_bench.py builds them.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import measure  # noqa: E402
from weatherapi_data_engineering_project_spark.schemas import load_table  # noqa: E402
from weatherapi_data_engineering_project_spark.operators import dedup as DD  # noqa: E402
from weatherapi_data_engineering_project_spark.caching import release_all  # noqa: E402

SCALES = [
    ("1x", measure.SF_DIR),
    ("10x", measure.scale_dir(10)),
    ("100x", measure.scale_dir(100)),
]


def _bands(sigs, w: int):
    band_arr = F.array(
        *[F.substring("bits", b * w + 1, w) for b in range(DD.N_SIM_BANDS)]
    )
    return sigs.select(
        "doc", F.posexplode(band_arr).alias("band_idx", "band_val")
    )


def _collision_mass(sigs, w: int) -> int:
    """Exact banded collision mass WITHOUT materializing pairs:
    sum over (band_idx, band_val) buckets of C(count, 2) — one groupBy
    over n*n_bands rows, O(n) at any corpus size. This is the join's
    build cost; the distinct-pair count (verifier cost) is <= it."""
    return int(
        _bands(sigs, w)
        .groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("m"))
        .first()["m"]
    )


def _banded_candidates(sigs, w: int) -> int:
    bands = _bands(sigs, w)
    a = bands.select(F.col("doc").alias("id1"), "band_idx", "band_val")
    b = bands.select(F.col("doc").alias("id2"), "band_idx", "band_val")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
        .count()
    )


# materializing the distinct banded pairs is itself quadratic work for
# a bad width — cap it (the 100x fixed-32 join OOMed a 128 GiB driver
# at ~1e9+ collisions, which IS the finding; the histogram mass states
# it without dying)
_PAIR_COUNT_CAP = 200_000_000


def main() -> None:
    artifact = sys.argv[1] if len(sys.argv) > 1 else "BENCH_SCALE_r11.json"
    spark = measure.session("simhash-curve", [measure.SF_DIR])

    rows = {}
    for tag, sf_dir in SCALES:
        if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
            rows[tag] = {"skipped": f"no corpus at {sf_dir}"}
            continue
        d = load_table(spark, sf_dir, "documents")
        n = d.count()
        w = DD.scaled_simhash_band_bits(n)
        # ONE signature pass at the max width; both band layouts slice
        # their own prefix (derived uses its first 4*w bits, fixed-32
        # its first 32 — block 0 compatibility makes the wider
        # fingerprint's prefix bit-identical to the 32-bit scheme)
        n_bits = max(DD.N_SIM_BANDS * w, 32)
        from weatherapi_data_engineering_project_spark.caching import (
            persist_tracked,
        )

        sigs = persist_tracked(
            DD.simhash_signatures(d, "text", "doc_id", n_bits=n_bits)
        )
        sigs32 = sigs.select("doc", F.substring("bits", 1, 32).alias("bits"))
        mass_derived = _collision_mass(sigs, w)
        mass_fixed = mass_derived if w == 8 else _collision_mass(sigs32, 8)
        derived_cand = (
            _banded_candidates(sigs, w)
            if mass_derived <= _PAIR_COUNT_CAP
            else None
        )
        fixed_cand = (
            derived_cand
            if w == 8
            else (
                _banded_candidates(sigs32, 8)
                if mass_fixed <= _PAIR_COUNT_CAP
                else None
            )
        )
        rows[tag] = {
            "n_docs": n,
            "derived_band_bits": w,
            "collision_mass_derived": mass_derived,
            "mass_per_doc_derived": round(mass_derived / n, 2),
            "collision_mass_fixed32": mass_fixed,
            "mass_per_doc_fixed32": round(mass_fixed / n, 2),
            "distinct_pairs_derived": derived_cand,
            "distinct_pairs_fixed32": fixed_cand,
        }
        print(json.dumps({"scale": tag, **rows[tag]}), flush=True)
        release_all()

    try:
        with open(artifact) as fh:
            data = json.load(fh)
    except OSError:
        data = {}
    data["simhash_candidate_mass"] = {
        "note": (
            "exact banded collision mass (sum of C(bucket,2) per band — "
            "the join's build cost, O(n) to compute at any scale) and, "
            "where feasible (mass <= 2e8), the distinct candidate-pair "
            "count, under the corpus-derived width vs the old fixed "
            "32-bit/4-band width; the rule is validated when derived "
            "mass/doc grows far below fixed32's ~10x/decade (a null "
            "distinct_pairs_* means materializing the pairs would "
            "itself be the quadratic blow-up)"
        ),
        "scales": rows,
    }
    with open(artifact, "w") as fh:
        json.dump(data, fh, indent=1)
    print(json.dumps({"merged_into": artifact}))


if __name__ == "__main__":
    main()
