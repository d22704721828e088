"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

import numpy as np

# Percentiles a tail may be reported at. A fixed ladder keeps the reported
# percentile the same across runs whose sample counts differ a little.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(n: int, p: float) -> int:
    # Rounded first, so that 99.9 % of 10 000 is rank 9 990, not 9 991.
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def _beta_cdf(a: float, b: float, xs: np.ndarray, grid: int = 20_001) -> np.ndarray:
    """Regularized incomplete beta I_x(a, b) at ``xs``, by trapezoid
    integration of the Beta(a, b) density on a fine grid (a, b >= 1)."""
    g = np.linspace(0.0, 1.0, grid)[1:-1]
    logpdf = (a - 1) * np.log(g) + (b - 1) * np.log1p(-g)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    return np.interp(xs, g, cdf / cdf[-1], left=0.0, right=1.0)


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean of
    all order statistics. On a few dozen samples it moves far less from run
    to run than any single order statistic does."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    w = np.diff(_beta_cdf(p * (n + 1), (1 - p) * (n + 1), np.arange(n + 1) / n))
    return float(w @ xs)


def beyond(n: int, p: float) -> int:
    """Samples ranked above the nearest-rank ``p``-th percentile of ``n``."""
    return n - _rank(n, p)


def tail_level(n: int) -> float | None:
    """Highest ladder percentile with at least ten of ``n`` samples beyond
    it, or None when ``n`` is too small for any."""
    ok = [p for p in TAIL_LADDER if beyond(n, p) >= 10]
    return max(ok) if ok else None


def tail(values: list[float]) -> tuple[float, float | None]:
    """(value, percentile) of the tail of ``values``, a Harrell-Davis
    estimate; with fewer than twenty samples no percentile has ten beyond
    it, and the maximum is returned with percentile None."""
    level = tail_level(len(values))
    if level is None:
        return max(values), None
    return hd_quantile(values, level / 100.0), level


def median(values: list[float]) -> float:
    return statistics.median(values)


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median — the run-to-run spread the benchmark's bounds are set against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
