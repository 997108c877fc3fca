"""Arithmetic the benchmark reports with, kept apart so it can be tested.

Every function takes plain numbers and returns plain numbers; nothing
here knows about Spark or the workloads.
"""
import math


def _rank(p, n):
    """Nearest rank of percentile p among n values (1-based). Rounded
    first, so 99.9% of 10000 is rank 9990, not 9991 by float error."""
    return math.ceil(round(p * n / 100.0, 9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the values at or below it. `p` is in (0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < p <= 100:
        raise ValueError("p must be in (0, 100]")
    ordered = sorted(values)
    return ordered[max(_rank(p, len(ordered)), 1) - 1]


def median(values):
    """The middle value, or the mean of the two middle values."""
    if not values:
        raise ValueError("median of no values")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def tail_percentile(n, min_beyond=10, candidates=(99.9, 99, 95, 90, 85, 75, 50)):
    """The highest candidate percentile that leaves at least `min_beyond`
    of `n` samples strictly above its nearest rank, or None when even the
    lowest candidate does not. 71 samples give 85; 1000 give 99."""
    for p in candidates:
        rank = _rank(p, n)
        if rank >= 1 and n - rank >= min_beyond:
            return p
    return None


def due_latency_ms(due_ms, posted_us):
    """Delivery latency of one event: from the time it was due to be sent
    (its eventCreationTime, in ms) to the time the sink received it (in
    microseconds of the same wall clock). Subtracts in integers first: at
    epoch magnitudes a float loses the microseconds."""
    return (posted_us - due_ms * 1000) / 1000.0


def fill_ratio(events, posts, bulk_max=200):
    """How full the sink's bulk posts were: events / (posts * bulk_max).
    1.0 means every post carried a full chunk."""
    if posts <= 0:
        return 0.0
    return events / float(posts * bulk_max)
