"""Percentiles that refuse to extrapolate."""

from __future__ import annotations

MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1) of ``samples`` by linear
    interpolation, or None unless at least ``MIN_BEYOND`` samples lie
    strictly above it: a p50 needs 20 samples, a p90 needs 92."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must lie in (0, 1), got {q}")
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    beyond = sum(1 for x in xs if x > value)
    return value if beyond >= MIN_BEYOND else None


def supported_percentiles(
    samples: list[float], qs: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> dict[str, float]:
    """``{"p50": v, ...}`` for each of ``qs`` the sample count supports."""
    out = {}
    for q in qs:
        v = percentile(samples, q)
        if v is not None:
            out[f"p{round(q * 100):d}"] = v
    return out
