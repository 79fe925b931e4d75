"""Percentiles for op latencies."""

from __future__ import annotations

import math

import numpy as np

# A tail percentile is only reported where at least this many ops lie
# beyond it.
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int:
    """The highest whole percentile of ``n`` ops that has at least
    ``TAIL_MIN_BEYOND`` ops beyond its nearest-rank value; 50 (the
    median) when ``n`` is too small for any higher one."""
    best = 50
    for p in range(51, 100):
        if n - math.ceil(p / 100.0 * n) >= TAIL_MIN_BEYOND:
            best = p
    return best


def hd_quantile(values: list[float], pct: float) -> float:
    """Harrell-Davis estimate of the ``pct`` percentile: a weighted mean
    of all order statistics, with Beta((n+1)q, (n+1)(1-q)) weights.

    A run sends a few dozen ops of a dozen templates whose latencies
    form clusters; a single order statistic jumps between clusters from
    run to run, while this estimate moves smoothly."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 0:
        raise ValueError("no values")
    if n == 1:
        return float(xs[0])
    q = pct / 100.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore"):
        logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(logpdf - np.max(logpdf[1:-1]))
    pdf[~np.isfinite(pdf)] = 0.0
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ xs)
