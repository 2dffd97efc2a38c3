"""Order statistics for fixed-sample timings."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10):
    """The highest percentile of ``values`` that still has at least
    ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: the sample at rank
    ``n - beyond`` of the sorted values (1-based), and that rank as a
    percentage of ``n``. With ``beyond`` or fewer samples no rank
    qualifies, which is an error.
    """
    ordered = sorted(values)
    n = len(ordered)
    rank = n - beyond
    if rank < 1:
        raise ValueError(f"{n} samples leave none with {beyond} beyond it")
    return float(ordered[rank - 1]), 100.0 * rank / n, n
