"""Order statistics that carry their sample count."""

from __future__ import annotations

import math
from collections.abc import Iterable


def percentile(values: Iterable[float], q: float) -> tuple[float, int]:
    """(the ``q``-th percentile, sample count), by linear interpolation
    between closest ranks (numpy's default).  Raises on no samples."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def median(values: Iterable[float]) -> float:
    return percentile(values, 50.0)[0]
