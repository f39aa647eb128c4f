"""Unit checks for the benchmark's own arithmetic.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from spans import Tracer, union_length  # noqa: E402
from stage import branch_flags, classify, envelope, expected_mix  # noqa: E402


def test_ten_samples_beyond_rule():
    # p50 of 20 samples leaves exactly 10 beyond it; of 19, only 9
    assert stats.beyond(20, 50) == 10 and stats.supported(20, 50)
    assert not stats.supported(19, 50)
    # p99 needs 1000 samples, p90 needs 100
    assert stats.supported(1000, 99) and not stats.supported(999, 99)
    assert stats.supported(100, 90) and not stats.supported(99, 90)


def test_percentile_refuses_unsupported_and_is_nearest_rank():
    with pytest.raises(ValueError):
        stats.percentile(range(19), 50)
    values = list(range(1, 1001))  # 1..1000
    assert stats.percentile(values, 50) == 500
    assert stats.percentile(values, 99) == 990
    assert stats.percentile(list(reversed(values)), 99) == 990


def test_event_freshness_from_schedule_and_commit():
    # ticks at 100 events/s from creation 1000.0; batch of ticks 200..299
    # committed at 1003.5: tick 200 is due at 1002.0, tick 299 at 1002.99
    sched = stats.rate_schedule(1000.0, 100, 200, 100)
    assert sched[0] == pytest.approx(1002.0) and sched[-1] == pytest.approx(1002.99)
    fresh = stats.event_freshness(sched, 1003.5)
    assert fresh[0] == pytest.approx(1.5) and fresh[-1] == pytest.approx(0.51)
    assert np.all(fresh > 0)


def test_backlog_seconds():
    # 12,000 events due, 9,000 committed, at 1,000 events/s: 3 s of input
    assert stats.backlog_s(12_000, 9_000, 1_000) == pytest.approx(3.0)
    assert stats.backlog_s(5_000, 5_000, 1_000) == 0.0
    # a batch that commits a little ahead of the due count is no backlog
    assert stats.backlog_s(5_000, 5_100, 1_000) == 0.0


def test_self_time_subtracts_covered_child_time():
    tr = Tracer()
    with tr.span("parent", trace_id="t"):
        with tr.span("child"):
            pass
    parent = next(s for s in tr.spans if s.name == "parent")
    child = next(s for s in tr.spans if s.name == "child")
    assert child.parent == parent.span_id and child.trace_id == "t"
    # hand-set times: parent 0..10, children 1..3 and 2..5 overlap -> 4 s covered
    parent.start, parent.end, child.start, child.end = 0.0, 10.0, 1.0, 3.0
    tr.spans.append(type(child)(99, "child", "t", parent.span_id, 2.0, 5.0))
    st = tr.self_times()
    assert st["parent"] == pytest.approx(6.0)
    assert st["child"] == pytest.approx(5.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_staged_mix_reads_back_exactly():
    n = 2 * 13 * 17 * 19  # covers every branch period
    seen = dict.fromkeys(expected_mix(0, 0), 0)
    for i in range(n):
        for k, hit in classify(envelope(i, 1 + i % 50)[1]).items():
            seen[k] += hit
    assert seen == expected_mix(0, n)
    assert seen["corrupt"] == n // 13 and seen["kept"] < n
    assert branch_flags(12)["corrupt"] and not branch_flags(12)["kept"]
