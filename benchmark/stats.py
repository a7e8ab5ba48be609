"""Metric math shared by the benchmark: medians, geometric means, the
tail-percentile rule and host steal accounting.

Pure functions over plain numbers so ``test_stats.py`` can pin them
without a Spark session.
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is only reported with at least this many samples
# strictly above it; fewer make it a reading of one or two outliers.
TAIL_SUPPORT = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def geomean(xs: list[float]) -> float:
    """Geometric mean of positive values; every value carries equal weight
    whatever its magnitude."""
    if not xs:
        raise ValueError("geomean of no samples")
    if any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def ratio_geomean(spark: dict[str, float], duck: dict[str, float]) -> float:
    """Geometric mean over the operations both engines timed of Spark's
    time over DuckDB's: every operation weighs the same, and one with no
    DuckDB counterpart moves nothing."""
    shared = [n for n in duck if n in spark]
    if not shared:
        raise ValueError("no operation has both timings")
    return geomean([spark[n] / duck[n] for n in shared])


def percentile(xs: list[float], q: float) -> float:
    """The ``q``-th percentile, interpolated linearly between the two
    closest ranks (``statistics.quantiles(..., method="inclusive")``)."""
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError("q must be in [0, 100]")
    ordered = sorted(xs)
    pos = (len(ordered) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return float(ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo))


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie past the ``q``-th percentile's
    position."""
    return n - 1 - math.floor((n - 1) * q / 100)


def tail_percentile(n: int, step: int = 5) -> int | None:
    """The highest percentile, in steps of ``step``, that keeps at least
    ``TAIL_SUPPORT`` samples beyond it; None when even the median does not."""
    best = None
    for q in range(50, 100, step):
        if samples_beyond(n, q) >= TAIL_SUPPORT:
            best = q
    return best


def read_cpu_ticks(path: str = "/proc/stat") -> tuple[int, int]:
    """(steal ticks, total ticks) of the aggregate ``cpu`` line."""
    with open(path) as f:
        fields = f.readline().split()
    if fields[0] != "cpu":
        raise ValueError(f"unexpected first line in {path}")
    ticks = [int(x) for x in fields[1:]]
    # guest and guest_nice (fields 9-10) are already counted in user/nice.
    total = sum(ticks[:8])
    steal = ticks[7] if len(ticks) > 7 else 0
    return steal, total


def steal_fraction(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of all CPU time between two ``read_cpu_ticks`` readings that
    the hypervisor gave to other guests."""
    d_steal, d_total = end[0] - start[0], end[1] - start[1]
    return d_steal / d_total if d_total > 0 else 0.0
