"""Summary statistics and the metric-name rules of the result line."""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
MIN_BEYOND = 10


def beyond(samples: list[float], q: float) -> int:
    """How many samples rank above the ``q`` quantile (nearest rank)."""
    return len(samples) - max(1, math.ceil(q * len(samples)))


def tail_supported(samples: list[float], q: float) -> bool:
    """A tail percentile is supported when at least MIN_BEYOND samples lie beyond it."""
    return bool(samples) and beyond(samples, q) >= MIN_BEYOND


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def harrell_davis(samples: list[float], q: float) -> float:
    """The Harrell-Davis estimate of the ``q`` quantile: a weighted mean of
    all order statistics, the i-th (of n) weighted by the Beta(q(n+1),
    (1-q)(n+1)) mass on ((i-1)/n, i/n]. With few samples of unequal ops it
    does not jump when two ops near the quantile trade places, as a single
    order statistic does."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):  # the fraction converges fast on this side only
        return 1.0 - betainc(b, a, 1.0 - x)
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    )
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 300):
        for num in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-14:
            break
    return front * f / a


def check_metric_names(metrics: dict) -> None:
    for name in metrics:
        if not METRIC_NAME.fullmatch(name) or len(name) > 64:
            raise ValueError(f"bad metric name {name!r}")
