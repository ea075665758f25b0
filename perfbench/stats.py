"""Small statistics helpers shared by the workloads and the report."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks, the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def hd_percentile(values: list[float], q: float) -> float:
    """The Harrell-Davis estimate of the ``q``-th percentile (0 < q < 100):
    a weighted mean of all order statistics, with weights from the Beta
    distribution centred on the percentile's rank.

    Per-call latencies come in clusters (a big table's copies, a heavy
    query's calls), and a rank-interpolating percentile that falls between
    two clusters follows the single call next to the gap. Averaging the
    order statistics around the rank keeps the estimate from jumping with
    that one call."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q < 100.0:
        raise ValueError(f"percentile {q} outside (0, 100)")
    xs = sorted(values)
    n = len(xs)
    p = q / 100.0
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    log_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(log_front) * _beta_cf(a, b, x) / a
    return 1.0 - math.exp(log_front) * _beta_cf(b, a, 1.0 - x) / b


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300

    def nz(v: float) -> float:
        return v if abs(v) > tiny else tiny

    c = 1.0
    d = 1.0 / nz(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 500):
        m2 = 2 * m
        for num in (
            m * (b - m) * x / ((a + m2 - 1.0) * (a + m2)),
            -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0)),
        ):
            d = 1.0 / nz(1.0 + num * d)
            c = nz(1.0 + num / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h
