"""Summary statistics the benchmark reports.

Every timing is reported as a median plus a tail: the highest whole
percentile that still has at least ``MIN_BEYOND`` samples beyond it,
so the tail never rests on one or two outliers. For stream lag the
support is counted in micro-batches, not events, because every event
of one batch finishes at the same moment.
"""

from __future__ import annotations

import bisect
import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

MIN_BEYOND = 10


def tail_percentile(support: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile p with ``support * (1 - p/100) >= min_beyond``.

    Returns None when even the median would have fewer than
    ``min_beyond`` samples beyond it (support < 2 * min_beyond).
    """
    if support < 2 * min_beyond:
        return None
    return min(99, math.floor(100.0 * (1.0 - min_beyond / support) + 1e-9))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[min(rank, len(ordered)) - 1]


def median_and_tail(
    values: Sequence[float], support: int | None = None
) -> tuple[float, float, int | None]:
    """(median, tail value, tail percentile) of ``values``.

    ``support`` is the number of independent samples behind ``values``
    (defaults to ``len(values)``); it picks the tail percentile. When
    the support is too small for any tail, the tail is the median and
    the percentile is None, which the caller reports as unsupported.
    """
    support = len(values) if support is None else support
    p = tail_percentile(support)
    med = statistics.median(values)
    return med, (percentile(values, p) if p is not None else med), p


def quartile_spread(values: Sequence[float]) -> dict:
    """Median, quartiles and (q3 - q1) / median of repeated run values."""
    med = statistics.median(values)
    if len(values) < 2:
        return {"median": med, "q1": med, "q3": med, "spread": 0.0, "n": len(values)}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
        "max_rel_dev": max(abs(v - med) for v in values) / med if med else float("inf"),
        "n": len(values),
    }


def join_lags(
    changes: Iterable[tuple[str, float]],
    deletes: Mapping[str, Sequence[float]],
) -> tuple[list[float], list[str]]:
    """Join change times to the first DEL of the same key at or after it.

    Both sides are ``time.monotonic()`` readings. CLOCK_MONOTONIC is one
    system-wide clock, so readings taken in the generator process and in
    the system under test compare directly. ``deletes`` maps a key to
    its DEL times in ascending order. Returns the lags in seconds and
    the keys whose change was never followed by a DEL (missing effects).
    """
    lags: list[float] = []
    missing: list[str] = []
    for key, t0 in changes:
        times = deletes.get(key, ())
        i = bisect.bisect_left(times, t0)
        if i == len(times):
            missing.append(key)
        else:
            lags.append(times[i] - t0)
    return lags, missing
