"""Tests of the benchmark's own arithmetic. Run from the checkout root:

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import combine_ratio, covered, fail_ratio, quartile_spread, self_times, tail  # noqa: E402


def _beyond(values, v):
    return sum(1 for x in values if x > v)


@pytest.mark.parametrize("n", [21, 30, 40, 100, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    values = [float(i) for i in range(1, n + 1)]
    v, pct, got_n = tail(values)
    assert got_n == n
    assert _beyond(values, v) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    # the next sample up has only nine beyond it
    assert _beyond(values, values[values.index(v) + 1]) == 9


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(values) == tail(sorted(values))


@pytest.mark.parametrize("n", [1, 2, 10, 11, 20])
def test_small_samples_fall_back_to_median(n):
    values = [float(i) for i in range(n)]
    v, pct, got_n = tail(values)
    assert (v, pct, got_n) == (statistics.median(values), 50.0, n)


def test_tail_of_nothing():
    assert tail([]) == (0.0, 0.0, 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([(11, 12)], 0, 10) == 0
    assert covered([], 0, 10) == 0


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(3, 1, 1.5, 2.0),  # grandchild: only its parent subtracts it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_self_times_sum_to_root_duration_without_overlap():
    spans = [_span(0, None, 0, 9), _span(1, 0, 0, 2), _span(2, 0, 2, 5), _span(3, 2, 3, 4)]
    assert sum(self_times(spans).values()) == pytest.approx(9)


def test_fail_ratio_counts():
    assert fail_ratio(40, 0) == 0.0
    assert fail_ratio(40, 3) == pytest.approx(0.075)
    assert fail_ratio(1, 1) == 1.0
    with pytest.raises(ValueError):
        fail_ratio(0, 0)
    with pytest.raises(ValueError):
        fail_ratio(4, 5)


def _stage(input_records, shuffle_write_records):
    return {"input_records": input_records, "shuffle_write_records": shuffle_write_records}


def test_combine_ratio_uses_map_stages_only():
    stages = [
        _stage(1000, 250),  # map stage of task set 1
        _stage(3000, 750),  # map stage of task set 2
        _stage(0, 40),  # reads shuffle, writes shuffle: not a map stage
        _stage(500, 0),  # reads input, writes files: not a map stage
    ]
    assert combine_ratio(stages) == pytest.approx(1000 / 4000)


def test_combine_ratio_without_map_stage():
    assert combine_ratio([]) == 0.0
    assert combine_ratio([_stage(0, 10)]) == 0.0


def test_quartile_spread_matches_statistics():
    values = [10.0, 11.0, 12.0, 9.5, 10.5, 10.2, 11.7, 9.9, 10.1, 10.8]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / q2)
    assert quartile_spread([5.0] * 10) == 0.0
