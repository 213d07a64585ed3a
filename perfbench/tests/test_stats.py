"""Unit tests for the benchmark's statistics.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import (  # noqa: E402
    Outcomes,
    nearest_rank,
    self_time,
    summarize,
    tail_percentile,
    union_length,
)


@pytest.mark.parametrize(
    "n,expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
     (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_nearest_rank():
    vals = [float(v) for v in range(1, 101)]
    assert nearest_rank(vals, 50) == 50.0
    assert nearest_rank(vals, 90) == 90.0
    assert nearest_rank([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_summarize_reports_tail_only_when_allowed():
    few = summarize([1.0, 2.0, 3.0])
    assert few == {"n": 3, "p50": 2.0}
    many = summarize([float(v) for v in range(100)])
    assert many["tail_pct"] == 90.0 and many["tail"] == 89.0
    assert summarize([]) == {"n": 0}


def test_failure_accounting():
    o = Outcomes()
    assert o.failed_frac == 0.0
    o.record(True)
    o.record(False, "oracle mismatch")
    o.record(True)
    o.record(False, "exception")
    assert (o.attempted, o.failed) == (4, 2)
    assert o.failed_frac == 0.5
    assert o.reasons == ["oracle mismatch", "exception"]


def test_union_length_counts_overlap_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5.0


def test_self_time_subtracts_union_of_children():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (5, 6)]) == 7
    # overlapping children are not subtracted twice
    assert self_time(0, 10, [(1, 5), (4, 8)]) == 3
    # children running past the parent are clipped to it
    assert self_time(2, 6, [(0, 3), (5, 9)]) == 2
    # nested child inside a sibling changes nothing
    assert self_time(0, 10, [(0, 4), (1, 2)]) == 6
