"""Summary statistics shared by the runner, the report and the tests."""

from __future__ import annotations

import re
import statistics
from typing import Sequence

#: metric names in BENCHMARK.json and in every printed result
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.fullmatch(name)) and len(name) <= 64 and name[0].isalnum()


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that has at least ``beyond`` samples above
    it: the value at sorted position ``n - beyond - 1``. Returns
    ``(value, percentile, n)``, or None when there are too few samples
    for any percentile to qualify."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return float(sorted(values)[k]), 100.0 * (k + 1) / n, n


def interval_union(intervals: Sequence[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
