"""Unit tests of the benchmark's pure parts, on synthetic inputs.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import stats  # noqa: E402
from stats import Span  # noqa: E402


def test_median_odd_even():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(stats.TooFewSamples):
        stats.median([])


def test_mean():
    assert stats.mean([1.0, 2.0, 6.0]) == 3.0
    with pytest.raises(stats.TooFewSamples):
        stats.mean([])


def test_quantile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert stats.quantile(xs, 0.5) == 50
    assert stats.quantile(xs, 0.9) == 90
    assert stats.quantile(xs, 0.95) == 95
    assert stats.quantile(xs, 1.0) == 100
    assert stats.quantile([7.0], 0.5) == 7.0


def test_quantile_requires_ten_beyond():
    xs = list(range(100))
    # p90 of 100 samples leaves exactly 10 beyond it: allowed
    assert stats.quantile(xs, 0.9, min_beyond=10) == 89
    # p95 of 100 leaves 5: refused
    with pytest.raises(stats.TooFewSamples):
        stats.quantile(xs, 0.95, min_beyond=10)
    assert stats.quantile(list(range(200)), 0.95, min_beyond=10) == 189
    with pytest.raises(stats.TooFewSamples):
        stats.quantile(list(range(99)), 0.9, min_beyond=10)


def test_highest_tail_picks_the_highest_supported_level():
    assert stats.highest_tail(list(range(1000)), 10) == (0.99, 989)
    assert stats.highest_tail(list(range(150)), 10) == (0.9, 134)
    assert stats.highest_tail(list(range(30)), 10) == (0.5, 14)
    assert stats.highest_tail(list(range(15)), 10) is None


def test_quantile_rejects_bad_level():
    with pytest.raises(ValueError):
        stats.quantile([1, 2], 0.0)
    with pytest.raises(ValueError):
        stats.quantile([1, 2], 1.5)


def test_due_time_schedule_is_open_loop():
    t0, dt = 1000.0, 0.25
    due = [stats.due_time(t0, i, dt) for i in range(5)]
    assert due == [1000.0, 1000.25, 1000.5, 1000.75, 1001.0]
    # lateness does not shift later due times: the schedule is fixed
    assert stats.due_time(t0, 400, dt) == t0 + 100.0


def test_max_lateness():
    due = [0.0, 1.0, 2.0]
    assert stats.max_lateness(due, [0.01, 1.3, 2.05]) == pytest.approx(0.3)
    # landing early (clock granularity) counts as on time
    assert stats.max_lateness(due, [-0.001, 1.0, 2.0]) == 0.0
    assert stats.max_lateness([], []) == 0.0


def test_file_latencies():
    due = [10.0, 10.5, 11.0, 11.5]
    batch_of_file = {0: 0, 1: 0, 2: 1}  # file 3 never committed
    commit_of_batch = {0: 12.0, 1: 13.0}
    lat = stats.file_latencies(due, batch_of_file, commit_of_batch, [0, 1, 2, 3])
    assert lat == [2.0, 1.5, 2.0]
    # a batch without a commit record yields no latency
    assert stats.file_latencies(due, {0: 7}, commit_of_batch, [0]) == []


def test_lag_at():
    landed = [1.0, 2.0, 3.0, 4.0]
    assert stats.lag_at(landed, 0, 0.5) == 0
    assert stats.lag_at(landed, 1, 3.0) == 2
    assert stats.lag_at(landed, 4, 9.0) == 0


def _spans():
    # query [0, 10] → build [0, 4] (with load_table [1, 2]),
    # catalyst [4, 5], scheduler [5, 9.5]
    return [
        Span(0, "query", 0.0, 10.0),
        Span(1, "registry.build", 0.0, 4.0, parent=0),
        Span(2, "io.load_table", 1.0, 2.0, parent=1),
        Span(3, "catalyst", 4.0, 5.0, parent=0),
        Span(4, "scheduler", 5.0, 9.5, parent=0),
    ]


def test_self_times():
    st = stats.self_times(_spans())
    assert st == {0: 0.5, 1: 3.0, 2: 1.0, 3: 1.0, 4: 4.5}
    assert sum(st.values()) == pytest.approx(10.0)


def test_layer_self_totals_sum_per_name():
    spans = _spans() + [Span(5, "io.load_table", 2.5, 3.0, parent=1)]
    totals = stats.layer_self_totals(spans)
    assert totals["io.load_table"] == pytest.approx(1.5)
    assert totals["registry.build"] == pytest.approx(2.5)


def test_child_coverage():
    assert stats.child_coverage(_spans(), 0) == pytest.approx(0.95)
    assert stats.child_coverage(_spans(), 2) == 0.0
    assert stats.child_coverage([Span(0, "q", 1.0, 1.0)], 0) == 1.0
