"""Summaries the runner reports: percentiles with their sample counts,
and failure accounting against the number of operations attempted."""

from __future__ import annotations

import math
import statistics
import traceback
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``,
    the same rule as numpy's default and ``statistics.quantiles``'
    inclusive method."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest of p99/p95/p90/p75 that keeps at least ``min_beyond``
    samples beyond it, or None when even p75 would not."""
    for q in (99.0, 95.0, 90.0, 75.0):
        if n * (100.0 - q) / 100.0 >= min_beyond:
            return q
    return None


def summarize(values: list[float]) -> dict:
    """Median, the highest tail percentile with ten samples beyond it,
    and the sample count."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    q = tail_percentile(len(values))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    return out


@dataclass
class Ledger:
    """Counts operations (a query, a pipeline cycle, a stream phase) and
    why each failed one failed: it raised, a gate blocked unexpectedly,
    or its correctness check found a mismatch."""

    attempted: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return len({op for op, _ in self.failures})

    @property
    def failure_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def attempt(self) -> None:
        self.attempted += 1

    def fail(self, op: str, why: str) -> None:
        self.failures.append((op, why))

    def run(self, op: str, fn, *args, **kwargs):
        """Count one operation and call ``fn``; an exception is recorded
        as that operation's failure and ``None`` returned, so one bad
        query does not end the run."""
        self.attempt()
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - every failure is reported
            self.fail(op, f"raised {type(e).__name__}: {e}".splitlines()[0][:300])
            traceback.print_exc()
            return None

    def check(self, op: str, problems: list[str]) -> bool:
        """Record a correctness mismatch for an already counted operation."""
        if problems:
            self.fail(op, "; ".join(problems)[:300])
        return not problems
