"""Summary statistics the benchmark reports.

Every sample counts: no minimum of repeats, no second chance for a slow
operation.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

TAIL_BEYOND = 10  # samples a reported tail must have beyond it


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float  # share of samples at or below ``value``, in %
    n: int
    beyond: int  # samples strictly above the reported rank


def tail(samples: list[float]) -> Tail:
    """The highest percentile that still has ``TAIL_BEYOND`` samples
    beyond it: the sample ranked ``TAIL_BEYOND + 1`` from the top.

    Up to ``2 * TAIL_BEYOND`` samples that percentile would lie at or
    under the median, which is no tail; the maximum is returned instead
    and ``beyond`` says so (0)."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    n = len(ordered)
    if n <= 2 * TAIL_BEYOND:
        return Tail(ordered[-1], 100.0, n, 0)
    rank = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return Tail(ordered[rank - 1], 100.0 * rank / n, n, TAIL_BEYOND)


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def unstolen(walls: list[float], steal_shares: list[float]) -> list[float]:
    """Each wall time less the share of it the hypervisor stole from the
    machine's busy CPUs (``procstats.steal_share``): the time the same
    work takes on a machine that is not shared. On a VM whose host is
    busy, steal comes in bursts of tens of seconds and stretches every
    wall time in them by up to a third; this work is CPU-bound, so the
    stolen share of the wall is time it waited, not time it worked."""
    return [w * (1.0 - s) for w, s in zip(walls, steal_shares, strict=True)]


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted
