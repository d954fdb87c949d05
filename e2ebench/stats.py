"""Order statistics the benchmark reports: the median, the tail rule and
the half-medians that show whether a timed phase is flat."""

from __future__ import annotations

import statistics

#: ``op_tail_s`` is the highest order statistic with at least this many
#: timed operations above it.
TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> float:
    """The highest sample with at least ``beyond`` samples above it.

    With ``n`` samples that is the ``n - beyond``-th smallest, so it is a
    real measured value, never an interpolated percentile. Raises when
    there are not ``beyond + 1`` samples: no such percentile exists."""
    if len(values) <= beyond:
        raise ValueError(
            f"op_tail_s needs more than {beyond} timed operations, got {len(values)}"
        )
    return sorted(values)[len(values) - beyond - 1]


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float:
    """Which percentile :func:`tail` reports for ``n`` samples."""
    return 100.0 * (n - beyond) / n


def half_medians(values: list[float]) -> tuple[float, float]:
    """Medians of the first and second half of a timed phase, in order."""
    h = len(values) // 2
    return statistics.median(values[:h]), statistics.median(values[h:])

