"""Order statistics used by every metric the benchmark reports."""

from __future__ import annotations

from collections.abc import Sequence

TAIL_BEYOND = 10  # samples that must lie above a reported tail value


def median(values: Sequence[float]) -> float:
    """Median (mean of the two middle values for an even count)."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, n)``.  The value is the
    ``beyond + 1``-th largest sample, whose percentile is
    ``100 * (n - beyond) / n``.  With ``n <= 2 * beyond`` that
    percentile would fall at or below the median, so the median is
    returned with percentile 50: fewer samples cannot carry a tail.
    """
    n = len(values)
    if n <= 2 * beyond:
        return median(values), 50.0, n
    s = sorted(values)
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n
