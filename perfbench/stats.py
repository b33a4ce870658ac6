"""Arithmetic the benchmark reports with: pure functions, no Spark.

Kept apart from the runner so the rules can be tested on their own
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import statistics

MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail_percentile(samples, min_beyond: int = MIN_BEYOND):
    """The highest percentile of ``samples`` that has at least
    ``min_beyond`` samples above it.

    Returns ``(pct, value, beyond)``: ``value`` is the sample at rank
    ``n - min_beyond`` (1-based) of the sorted samples, so exactly
    ``min_beyond`` samples lie beyond it; ``pct`` is that rank as a
    percentage of ``n``. With ``2 * min_beyond`` samples or fewer that
    percentile is not above the median, so it is no tail: the maximum is
    reported instead, as the 100th percentile with zero samples beyond.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 2 * min_beyond:
        return 100.0, xs[-1], 0
    rank = n - min_beyond
    return 100.0 * rank / n, xs[rank - 1], min_beyond


def failed_frac(attempted: int, failed: int) -> float:
    """Share of attempted operations that failed. Every operation run
    counts once in the denominator, whether it raised, timed out or
    produced output its check rejected; a run that attempted nothing
    has failed everything."""
    if attempted <= 0:
        return 1.0
    return min(failed, attempted) / attempted


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps
    counted once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of ``[start, end]`` that its
    children cover. Children may overlap each other and may stick out
    of the parent; only their union inside the parent is subtracted."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def classify_cache(lookups, before, after) -> tuple[int, int]:
    """Classify one operation's artifact-cache activity.

    ``lookups`` are the artifact kinds the operation resolved a cache
    path for; ``before`` and ``after`` are the sets of complete
    ``(kind, key)`` artifacts in the cache directory around the call.
    Every artifact that appeared is a build. A kind that was looked up
    and gained no artifact was served from the cache: one hit per such
    kind. Returns ``(builds, hits)``.
    """
    new = set(after) - set(before)
    built_kinds = {kind for kind, _ in new}
    hits = len({k for k in lookups if k not in built_kinds})
    return len(new), hits
