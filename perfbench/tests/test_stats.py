"""Tests for the benchmark's own arithmetic (perfbench/stats.py).

    python3 -m pytest perfbench/tests -q
"""

import math
import statistics

import pytest

from perfbench import stats


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_quartiles_match_statistics_quantiles():
    vals = [7.1, 3.2, 9.9, 4.4, 5.0, 6.3, 8.8, 2.1, 4.9, 6.0]
    q1, q2, q3 = stats.quartiles(vals)
    assert (q1, q2, q3) == tuple(statistics.quantiles(vals, n=4))
    assert q1 < q2 < q3
    assert q2 == stats.median(vals)


def test_quartiles_single_sample_has_zero_spread():
    assert stats.quartiles([5.0]) == (5.0, 5.0, 5.0)


def test_union_length_merges_overlaps_and_touching():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.union_length([(0, 1), (1, 2)]) == 2.0
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert stats.union_length([(3, 1)]) == 0.0  # empty interval ignored


def test_self_time_subtracts_children_once_when_they_overlap():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 3, "start": 4.0, "end": 5.0},  # grandchild
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0)  # children cover 1..6
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(3.0 - 1.0)
    assert own[4] == pytest.approx(1.0)


def test_self_time_clips_children_outside_the_parent():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 2.0},
        {"id": 2, "parent": 1, "start": 1.5, "end": 3.0},
    ]
    assert stats.self_times(spans)[1] == pytest.approx(1.5)


def test_driver_gap_from_job_intervals():
    # fit 0..10; jobs 1..3 and 2..4 overlap, 8..12 runs past the end
    jobs = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0), (-5.0, -1.0)]
    assert stats.driver_gap(0.0, 10.0, jobs) == pytest.approx(10.0 - 3.0 - 2.0)
    assert stats.driver_gap(0.0, 10.0, []) == 10.0
    assert stats.driver_gap(0.0, 10.0, [(0.0, 10.0)]) == 0.0


def test_failed_frac():
    assert stats.failed_frac(0, 12) == 0.0
    assert stats.failed_frac(3, 12) == 0.25
    assert math.isclose(stats.failed_frac(1, 3), 1 / 3)
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(5, 4)
