"""Summary statistics the benchmark reports."""

from __future__ import annotations


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The latency at the highest percentile that still has ``beyond``
    samples above it: sorted ascending, the sample at index
    ``n - beyond - 1``. Returns (value, percentile, samples above).

    With ``beyond`` or fewer samples no such percentile exists; the
    maximum is returned with the number of samples actually above it
    (zero), so the caller can show that the tail is thin."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    i = n - beyond - 1
    if i < 0:
        return float(xs[-1]), 100.0, 0
    return float(xs[i]), 100.0 * (i + 1) / n, n - i - 1
