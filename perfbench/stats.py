"""The benchmark's arithmetic: percentiles, freshness and backlog.

Kept free of Spark so ``test_stats.py`` can check it in isolation.
"""

from __future__ import annotations

import math

import numpy as np

#: A percentile is reported only when at least this many samples lie
#: beyond it.
MIN_BEYOND = 10


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly beyond the ``q``-th
    percentile's rank (``ceil(q/100 * n)`` samples are at or below it)."""
    return n - math.ceil(q / 100.0 * n)


def supported(n: int, q: float) -> bool:
    return beyond(n, q) >= MIN_BEYOND


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile; raises if fewer than
    ``MIN_BEYOND`` samples lie beyond it."""
    arr = np.sort(np.asarray(values, dtype=np.float64))
    n = len(arr)
    if not supported(n, q):
        raise ValueError(f"p{q} needs {MIN_BEYOND} samples beyond it; have n={n}")
    return float(arr[max(math.ceil(q / 100.0 * n), 1) - 1])


def median(values) -> float:
    """Plain median (no sample-count rule: used for per-layer figures
    and for medians over repeated measurements)."""
    return float(np.median(np.asarray(values, dtype=np.float64)))


def event_freshness(scheduled, committed) -> np.ndarray:
    """Per-event freshness: commit time of the event's batch minus the
    event's scheduled time (both wall-clock seconds)."""
    return np.asarray(committed, dtype=np.float64) - np.asarray(scheduled, dtype=np.float64)


def rate_schedule(creation_s: float, rate: float, first: int, n: int) -> np.ndarray:
    """Scheduled times of rate-source ticks ``first .. first+n-1``:
    tick ``v`` is due at ``creation + v / rate``."""
    return creation_s + (first + np.arange(n, dtype=np.float64)) / rate


def backlog_s(due_events: int, committed_events: int, rate: float) -> float:
    """Events due but not yet committed, in seconds of input at the
    offered rate.  Never negative: a batch may commit ahead of its due
    count only by rounding."""
    return max(due_events - committed_events, 0) / rate
