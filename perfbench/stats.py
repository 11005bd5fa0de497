"""Pure statistics helpers of the benchmark (no Spark, no I/O).

- :func:`median` / :func:`nearest_rank` — order statistics of a run's samples.
- :func:`tail_percentile` — the highest percentile that still has at least
  ten samples beyond it, so a reported tail is never one lucky outlier.
- :func:`prefix_self_times` — a layer's self time as the difference between
  the walls of consecutive materialised prefixes of one job.
- :func:`layer_sum_check` — do the layer self times add up to the traced
  job wall (within a relative tolerance)?
"""

from __future__ import annotations

import math
import statistics

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: a tail percentile needs at least this many samples strictly beyond it
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def nearest_rank(sorted_values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile of ascending ``sorted_values``: the value at
    rank ``ceil(pct/100 * n)`` (1-based), and how many samples lie beyond
    that rank."""
    n = len(sorted_values)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * n))
    return float(sorted_values[rank - 1]), n - rank


def tail_percentile(
    values: list[float], candidates=TAIL_PERCENTILES, min_beyond: int = MIN_BEYOND
) -> tuple[float, float] | None:
    """(percentile, value) of the highest candidate percentile with at least
    ``min_beyond`` samples ranked beyond it; None when even the lowest
    candidate lacks them (too few samples to state any tail)."""
    s = sorted(values)
    for pct in sorted(candidates, reverse=True):
        if not s:
            break
        v, beyond = nearest_rank(s, pct)
        if beyond >= min_beyond:
            return pct, v
    return None


def prefix_self_times(prefixes: list[tuple[str, float]]) -> dict[str, float]:
    """Self time per layer from the walls of consecutive prefixes of one job.

    ``prefixes`` lists (layer, wall) in pipeline order, where the k-th wall
    times the job cut after layer k (each prefix recomputes everything
    upstream, since Spark evaluates lazily). The self time of layer k is
    wall_k - wall_{k-1}; the first layer's self time is its own wall. The
    values telescope: their sum is the last prefix's wall. A noisy pair can
    give a small negative self time; it is kept, not clamped, so the sum
    stays exact."""
    out: dict[str, float] = {}
    prev = 0.0
    for layer, wall in prefixes:
        if layer in out:
            raise ValueError(f"layer {layer!r} appears twice in the prefix chain")
        out[layer] = wall - prev
        prev = wall
    return out


def layer_sum_check(
    self_times: dict[str, float], job_wall: float, tolerance: float = 0.10
) -> tuple[float, bool]:
    """(relative gap, within tolerance) between the sum of layer self times
    and the traced job wall: |sum - wall| / wall <= tolerance."""
    if job_wall <= 0:
        raise ValueError("job wall must be positive")
    gap = abs(sum(self_times.values()) - job_wall) / job_wall
    return gap, gap <= tolerance


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median — the steadiness
    figure the benchmark is tuned against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
