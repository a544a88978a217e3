"""Spans recorded around the benchmark's calls into the engine, plus the
Spark event log parsed into per-job-group counts.

Spans stay in memory and are written once, when the run ends. A disabled
tracer records nothing and sets no job group, so an untraced run pays only
a few attribute reads per call.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

from stats import Span


class Tracer:
    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, sc=None, group: str | None = None):
        """Record ``name`` around the block, as a child of this thread's
        innermost open span. With ``sc`` and ``group`` the block's Spark
        jobs are tagged with that job group."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        if sc is not None and group is not None:
            sc.setJobGroup(group, name)
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            stack.pop()
            if sc is not None and group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(Span(span_id, parent, name, start, end))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "trace_id": self.trace_id,
                    "spans": [
                        {
                            "id": s.span_id,
                            "parent": s.parent,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "trace_id": self.trace_id,
                        }
                        for s in self.spans
                    ],
                },
                f,
            )


@dataclass
class GroupCounts:
    """What the event log says about the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_logs(log_dir: str) -> dict[str | None, GroupCounts]:
    """Counts per job group over every finished event log in ``log_dir``.
    Jobs without a group are filed under ``None``."""
    stage_group: dict[tuple[str, int], str | None] = {}
    out: dict[str | None, GroupCounts] = defaultdict(GroupCounts)
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        name = os.path.basename(path)
        if name.endswith(".inprogress") or name.startswith("appstatus"):
            continue
        app = name
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    out[group].jobs += 1
                    for sid in ev.get("Stage IDs", ()):
                        # a stage listed again by a later job was reused and
                        # skipped there; its tasks belong to the first job
                        stage_group.setdefault((app, sid), group)
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get((app, sid))].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = out[stage_group.get((app, ev["Stage ID"]))]
                    g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    g.output_bytes += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
    return dict(out)
