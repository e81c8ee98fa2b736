"""Metric arithmetic shared by the benchmark and its steadiness check.

Kept free of Spark so it can be unit-tested on its own
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import statistics
from collections.abc import Sequence

#: A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail_percentile(
    values: Sequence[float], beyond: int = TAIL_BEYOND
) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above it.

    Nearest-rank on the sorted samples: with ``n`` samples the answer is
    the ``(n - beyond)``-th smallest value, which sits at percentile
    ``100 * (n - beyond) / n``.  Returns ``(percentile, value)``; fewer
    than ``beyond + 1`` samples have no such percentile and raise.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(
            f"{n} samples: a tail percentile needs more than {beyond}"
        )
    ordered = sorted(values)
    return 100.0 * (n - beyond) / n, float(ordered[n - beyond - 1])


def ratio(part: float, base: float) -> dict:
    """``part / base`` reported together with its base (0 when base is 0)."""
    return {"value": part / base if base else 0.0, "part": part, "base": base}


class OpCounter:
    """Counts attempted and failed operations of one run.

    An operation fails when it raises, when its result envelope says so,
    or when its output check does not hold; each is counted once.
    """

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason or "unspecified failure")

    @property
    def error_rate(self) -> dict:
        return ratio(self.failed, self.attempted)


def quartiles(values: Sequence[float]) -> dict:
    """Median, Q1 and Q3 of Python's default ``statistics.quantiles``
    method (its middle cut point is the median), and the spread
    (Q3 - Q1) / median (infinite at median 0)."""
    q1, mid, q3 = statistics.quantiles(values, n=4)
    return {"median": mid, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / mid if mid else float("inf")}
