"""Small, Spark-free helpers: percentiles with a sample-count rule, the
attempted/failed tally, and the answer check."""

from __future__ import annotations

import math
import statistics


class TooFewSamples(ValueError):
    """A percentile was asked of fewer samples than it needs."""


def min_samples(q: float) -> int:
    """Samples needed before the ``q`` quantile is reported: at least ten
    observations on its thin side, so p50 needs 20 and p90 needs 100."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    return math.ceil(10.0 / min(q, 1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile; raises ``TooFewSamples`` below
    ``min_samples(q)``."""
    need = min_samples(q)
    if len(values) < need:
        raise TooFewSamples(f"p{q * 100:g} needs {need} samples, got {len(values)}")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)


class Tally:
    """Counts operations and the ones that failed or gave a wrong answer."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def answer_ok(got, expected) -> bool:
    """An answer is a (row count, column-hash sum) pair; both must match."""
    return got is not None and tuple(got) == tuple(expected)


def sel_error(achieved: float, target: float, n_rows: int) -> float:
    """|log10(achieved / target)|, with an empty answer floored at one row
    so a query that selects nothing still has a finite error."""
    return abs(math.log10(max(achieved, 1.0 / n_rows) / target))


def in_band(achieved: float, target: float) -> bool:
    """Within half a decade of the target selectivity."""
    return target / math.sqrt(10.0) <= achieved <= target * math.sqrt(10.0)
