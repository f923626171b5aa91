"""Small statistics shared by the workloads, the reader and compare."""

from __future__ import annotations

import datetime as dt
import statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float]:
    """The highest percentile that still has ten samples beyond it, as
    (value, percentile). With ten samples or fewer no such percentile
    exists, and the maximum is reported as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return float(s[-1]), 100.0
    return float(s[n - 11]), round(100 * (n - 10) / n, 1)


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as `statistics.quantiles(n=4)` gives them."""
    if len(xs) < 2:
        v = float(xs[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iso_to_epoch(ts: str) -> float:
    """Streaming progress timestamps (`2026-01-01T00:00:00.000Z`)."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
