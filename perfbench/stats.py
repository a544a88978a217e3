"""Pure helpers behind the benchmark's reported numbers.

Nothing here touches Spark, the file system or the clock, so each rule is
unit-tested in ``test_stats.py``.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

# Percentiles a tail may be reported at, lowest first. A fixed ladder keeps
# the reported percentile the same across runs whose sample counts differ
# by a few.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    rounding keeps 99.9% of 10000 at rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float:
    """Highest ladder percentile with at least ``min_beyond`` of ``n``
    samples strictly beyond its nearest rank. Below 2 * min_beyond samples
    no tail above the median qualifies, and the median is returned."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= min_beyond:
            best = p
    return best


@dataclass(frozen=True)
class Summary:
    """Median and tail of one sample set, with what the tail rests on."""

    n: int
    median: float
    tail: float
    tail_pct: float

    @property
    def beyond_tail(self) -> int:
        return self.n - _rank(self.tail_pct, self.n)


def summarize(values: Sequence[float]) -> Summary:
    """Median and tail. The tail is never below the median, which for an
    even count lies between the two middle samples."""
    if not values:
        raise ValueError("summary of no samples")
    p = tail_percentile(len(values))
    median = statistics.median(values)
    return Summary(
        n=len(values),
        median=median,
        tail=max(median, percentile(values, p)),
        tail_pct=p,
    )


def fail_ratio(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


@dataclass(frozen=True)
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover. Overlapping children are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, ()), s.start, s.end)
        for s in spans
    }


def file_commit_times(
    file_rows: Sequence[int], batches: Sequence[tuple[int, float]]
) -> list[float | None]:
    """Map files, in landing order, to the commit time of the micro-batch
    that read them.

    ``file_rows`` holds each file's row count. ``batches`` holds
    ``(input_rows, commit_time)`` per micro-batch in batch order. The file
    source reads whole files in landing order, so batch b holds the files
    whose cumulative row count ends within the batches' cumulative input
    through b. A file with no committed batch yet maps to ``None``. A batch
    boundary that splits a file means the mapping does not hold, and raises.
    """
    out: list[float | None] = [None] * len(file_rows)
    ends = []
    acc = 0
    for rows in file_rows:
        acc += rows
        ends.append(acc)
    done = 0
    fi = 0
    for rows, t in batches:
        done += rows
        while fi < len(ends) and ends[fi] <= done:
            out[fi] = t
            fi += 1
        start = ends[fi - 1] if fi else 0
        if done != start:
            raise ValueError(
                f"batch boundary at row {done} splits file {fi} "
                f"(rows {start}..{ends[fi] if fi < len(ends) else '?'})"
            )
    return out
