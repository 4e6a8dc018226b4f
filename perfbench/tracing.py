"""Spans around the benchmark's calls into the engine, and the Spark event
log read back per job group.

A :class:`Tracer` with ``enabled=False`` does nothing, so untraced runs pay
nothing for it; enabled, it tags every Spark job a call submits with a job
group named after the call, and keeps one span per call (name, start, end,
parent, run id) in memory until :meth:`Tracer.write` saves them with each
span's self time.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    span_id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None


@dataclass
class Tracer:
    sc: object | None = None  # SparkContext; None disables job groups
    enabled: bool = False
    run_id: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Time the body; when enabled, record a span and tag its jobs."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self.run_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        if self.sc is not None:
            sp.group = f"{self.run_id}/{name}"
            self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1]].group if self._stack else None
                if outer:
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str | None) -> int:
        """Spark jobs submitted under ``group``, from the status tracker."""
        if self.sc is None or group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover.

        Children of one span run one after another on the calling thread,
        so their intervals do not overlap and their durations add up.
        """
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return {sp.span_id: (sp.end - sp.start) - child[sp.span_id] for sp in self.spans}

    def write(self, path: Path) -> None:
        selfs = self.self_times()
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({**asdict(sp), "self_s": selfs[sp.span_id]}) + "\n")


@dataclass
class GroupStats:
    """Task-level totals of the Spark stages one job group ran."""

    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    task_times: dict = field(default_factory=lambda: defaultdict(list))  # stage -> ms

    @property
    def task_skew(self) -> float:
        """Worst stage's max / median task run time (stages of >= 2 tasks)."""
        ratios = [
            max(ts) / statistics.median(ts)
            for ts in self.task_times.values()
            if len(ts) >= 2 and statistics.median(ts) > 0
        ]
        return max(ratios, default=1.0)


def read_event_log(path: Path) -> dict[str, GroupStats]:
    """Per job group totals from a (finished, uncompressed) Spark event log."""
    stage_group: dict[tuple[int, int], str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    with path.open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                metrics = ev.get("Task Metrics")
                if group is None or not metrics:
                    continue
                g = stats[group]
                g.shuffle_write_bytes += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                read = metrics["Shuffle Read Metrics"]
                g.shuffle_read_bytes += read["Remote Bytes Read"] + read["Local Bytes Read"]
                g.spill_bytes += metrics["Memory Bytes Spilled"] + metrics["Disk Bytes Spilled"]
                g.gc_s += metrics["JVM GC Time"] / 1000.0
                g.task_times[ev["Stage ID"]].append(metrics["Executor Run Time"])
    return stats
