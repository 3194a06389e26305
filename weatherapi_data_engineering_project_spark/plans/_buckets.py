"""Shared pieces of the two-phase bucketed prefix scan.

The q150 pattern: sample quantile boundaries of the scan key, bucket
the frame on them, scan (rank or cumsum) WITHIN buckets in parallel,
then add each bucket's offset — the aggregate over all earlier
buckets — so no unpartitioned window exists at any corpus size.
Three helpers carry it:

- ``quantile_bounds`` — the boundary probe. ``approxQuantile`` is an
  eager driver probe by design (the boundary list must be a plan
  literal so the bucket assignment is a codegen'd array scan, not a
  join); its cost is one pass over the already-aggregated frame.
  ADVICE r06: on an EMPTY frame approxQuantile returns [], and an
  empty literal array degrades to an opaque edge — guard it by
  falling back to a single bucket, which keeps the plan shape valid
  (every row lands in _bkt 0 and the stitch is a no-op).
- ``bucket_of`` — the bucket index of a value against those bounds.
- ``bucket_offsets`` — the offset stitch: a broadcast triangular
  self-join over the <=33-row per-bucket totals (q155, q159, q196,
  q197, q205, q212, q215, q263, q268, ``corpus._global_rank_desc``).

Sites that stitch differently use only the probe helpers, on purpose:
q65, q150, q182, ``analytics._global_ntile`` and ``llm._pack_bins``
take offsets from a window over the tiny bucket-totals frame, and q49
and q95 collect the totals to the driver as a plan-literal array.
Moving them onto the triangular join would change their plans, which
needs its own plan and timing evidence.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantile_bounds(
    df: DataFrame, col: str, n: int = 32, rel: float = 0.01
) -> list[float]:
    """Sorted distinct ~(n-1) quantile boundaries of ``df[col]``;
    ``[0.0]`` (single bucket) when the frame is empty."""
    bnds = sorted(set(df.approxQuantile(col, [i / n for i in range(1, n)], rel)))
    return bnds or [0.0]


def bucket_of(col: str, bnds: list[float]) -> Column:
    """Bucket index of ``col`` against plan-literal boundaries: the
    count of boundaries strictly below the value (codegen'd array
    filter — no join, no shuffle)."""
    return F.size(
        F.filter(F.lit(bnds).cast("array<double>"), lambda b: b < F.col(col))
    )


def bucket_offsets(
    bs: DataFrame,
    aggs: dict[str, tuple[Callable[[str], Column], str]],
    by: tuple[str, ...] = (),
    desc: bool = False,
) -> DataFrame:
    """Per-bucket offsets of the per-bucket totals frame ``bs``
    (columns ``*by``, ``_bkt`` and the totals): one row per
    ``(*by, _bkt)`` with, for each ``out: (agg, col)`` of ``aggs``,
    ``coalesce(agg(col), 0)`` over the EARLIER buckets of the same
    ``by`` group — the later ones when ``desc`` (DESC rankings count
    from the top bucket). A broadcast triangular self-join."""
    earlier = (
        F.col("b._bkt") > F.col("a._bkt")
        if desc
        else F.col("b._bkt") < F.col("a._bkt")
    )
    cond = reduce(
        lambda acc, c: acc & c,
        [F.col(f"b.{k}") == F.col(f"a.{k}") for k in by] + [earlier],
    )
    return (
        bs.alias("a")
        .join(F.broadcast(bs.alias("b")), cond, "left")
        .groupBy(*[F.col(f"a.{k}").alias(k) for k in (*by, "_bkt")])
        .agg(
            *[
                F.coalesce(agg(f"b.{col}"), F.lit(0)).alias(out)
                for out, (agg, col) in aggs.items()
            ]
        )
    )
