"""Summary statistics for the benchmark's timings.

A timing is reported as its median plus the highest percentile that still
has at least ``MIN_BEYOND`` samples beyond it, together with the sample
count, so a tail figure is never read off two or three samples.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method), ``0 <= p <= 100``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` of ``n`` samples
    strictly beyond it, or ``None`` when even the median is unsupported."""
    best = None
    for p in _LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, supported tail percentile and its value, and sample count."""
    tail = supported_tail(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50.0),
        "tail_p": tail,
        "tail": percentile(values, tail) if tail is not None else None,
    }


def describe(name: str, unit: str, values: list[float]) -> str:
    """One human-readable line for a timing sample."""
    s = summarize(values)
    tail = (
        f"p{s['tail_p']:g}={s['tail']:.4g}" if s["tail_p"] is not None
        else f"no tail: fewer than {2 * MIN_BEYOND} samples"
    )
    return f"{name}: p50={s['p50']:.4g} {unit}, {tail} {unit}, n={s['n']}"
