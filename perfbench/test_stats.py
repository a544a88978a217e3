"""Unit tests for the benchmark's pure helpers.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import pytest

from stats import (
    Span,
    fail_ratio,
    file_commit_times,
    percentile,
    self_times,
    summarize,
    tail_percentile,
)


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    assert percentile(list(range(1, 101)), 90) == 90


@pytest.mark.parametrize(
    "n, want",
    [
        (1, 50.0),  # nothing qualifies: fall back to the median
        (19, 50.0),
        (20, 50.0),  # rank 10, 10 beyond
        (39, 50.0),  # p75 rank 30 leaves 9 beyond
        (40, 75.0),  # p75 rank 30 leaves 10 beyond
        (99, 75.0),
        (100, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_beyond(n, want):
    assert tail_percentile(n) == want


def test_summary_reports_tail_with_its_support():
    s = summarize([float(i) for i in range(1, 101)])
    assert (s.n, s.median, s.tail, s.tail_pct, s.beyond_tail) == (
        100, 50.5, 90.0, 90.0, 10,
    )
    small = summarize([3.0, 1.0, 2.0])
    assert small.tail_pct == 50.0 and small.tail == 2.0 and small.beyond_tail == 1
    pair = summarize([1.0, 2.0])
    assert pair.median == 1.5 and pair.tail == 1.5


def test_fail_ratio():
    assert fail_ratio(10, 0) == 0.0
    assert fail_ratio(8, 2) == 0.25
    with pytest.raises(ValueError):
        fail_ratio(0, 0)
    with pytest.raises(ValueError):
        fail_ratio(3, 4)


def test_self_time_subtracts_children_once():
    spans = [
        Span(1, None, "pass", 0.0, 10.0),
        Span(2, 1, "query", 1.0, 4.0),
        Span(3, 1, "query", 3.0, 6.0),  # overlaps the first child
        Span(4, 2, "build", 1.0, 2.0),
        Span(5, 1, "query", 9.0, 12.0),  # runs past the parent's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_of_leaf_is_duration():
    assert self_times([Span(7, 3, "lookup", 2.0, 2.5)]) == {7: 0.5}


def test_file_commit_times_groups_whole_files():
    rows = [10, 20, 5, 5, 30]
    batches = [(10, 1.0), (25, 2.0), (5, 3.0)]
    assert file_commit_times(rows, batches) == [1.0, 2.0, 2.0, 3.0, None]


def test_file_commit_times_zero_row_batches_and_files():
    rows = [10, 0, 10]
    batches = [(0, 0.5), (10, 1.0), (10, 2.0)]
    assert file_commit_times(rows, batches) == [1.0, 1.0, 2.0]


def test_file_commit_times_rejects_split_file():
    with pytest.raises(ValueError):
        file_commit_times([10, 10], [(15, 1.0)])
    with pytest.raises(ValueError):
        file_commit_times([10], [(10, 1.0), (1, 2.0)])
