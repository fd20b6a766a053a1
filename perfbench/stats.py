"""The benchmark's arithmetic, kept free of Spark so it can be unit-tested.

Every timing the benchmark reports is built here from raw samples (seconds):

- ``geomean_of_medians``: each query's median, then the geometric mean over
  queries, so every query weighs the same whatever its size (the TPC-H power
  metric's shape);
- ``tail``: the highest percentile that still has at least ``TAIL_BEYOND``
  samples above it, i.e. the (TAIL_BEYOND+1)-th largest sample;
- ``rows_per_s``: input rows of one pass over the sum of the per-query
  medians, so one burst of host interference moves it no more than it moves
  one query's median.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def geomean(xs: list[float]) -> float:
    if not xs or min(xs) <= 0:
        raise ValueError(f"geomean needs positive samples, got {xs!r}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean over queries of each query's median sample."""
    return geomean([median(v) for v in samples.values()])


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ``beyond`` samples
    above it. The value is the (beyond+1)-th largest sample and the
    percentile is the share of samples at or below it."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    ordered = sorted(samples)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n


def rows_per_s(input_rows: int, samples: dict[str, list[float]]) -> float:
    """Input rows one pass reads, over the sum of per-query medians."""
    return input_rows / sum(median(v) for v in samples.values())


def overhead_pct(traced: dict[str, list[float]], untraced: dict[str, list[float]]) -> float:
    """How much slower traced samples are than untraced ones of the same
    queries, in percent of the untraced geomean of medians."""
    common = sorted(set(traced) & set(untraced))
    t = geomean_of_medians({k: traced[k] for k in common})
    u = geomean_of_medians({k: untraced[k] for k in common})
    return 100.0 * (t / u - 1.0)
