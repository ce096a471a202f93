"""Spans around calls into the program's layers, and Spark's event log.

A span records name, start, end, parent and trace id, in memory. While
a span is open its id is the Spark local property ``qabench.span``, so
every job the call starts carries it; the event log's task metrics are
then summed per span. Spans and the log are read once, at the end of
the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "qabench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    trace: int
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise each span costs one
    attribute check."""

    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace = 0

    def _set_property(self, value: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, value)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._trace += 1
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self._trace, time.monotonic())
        self.spans.append(s)
        self._stack.append(s)
        self._set_property(str(s.id))
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self._set_property(str(parent.id) if parent else None)

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]]
            )
            out[s.layer] += s.dur - covered
        return dict(out)

    def write(self, path: str, ev: "EventLog | None" = None) -> None:
        """All spans as JSON lines, each with the ids of its Spark jobs."""
        jobs: dict[int, list[int]] = defaultdict(list)
        for j in (ev.jobs.values() if ev else ()):
            if j.span is not None:
                jobs[j.span].append(j.id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "jobs": jobs[s.id]}) + "\n")

    def subtree(self, root: Span) -> set[int]:
        kids = self.children()
        ids, stack = set(), [root.id]
        while stack:
            i = stack.pop()
            ids.add(i)
            stack.extend(c.id for c in kids[i])
        return ids


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# --- Spark event log ---------------------------------------------------


@dataclass
class Task:
    stage: int
    run_ms: float
    gc_ms: float
    peak_mem: int
    spill: int
    shuffle_write: int
    accums: dict[int, float] = field(default_factory=dict)


@dataclass
class Job:
    id: int
    span: int | None
    call_site: str
    submitted_ms: int
    completed_ms: int = 0
    stages: list[int] = field(default_factory=list)


class EventLog:
    """Jobs, tasks and SQL metric names from one application's log."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        self.metric_node: dict[int, tuple[str, str, str]] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        self.stage_job: dict[int, Job] = {}
        for j in sorted(self.jobs.values(), key=lambda j: j.id):
            for st in j.stages:
                self.stage_job.setdefault(st, j)

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
                if not p.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log, found {logs}")
        return cls(logs[0])

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            self.metric_node[int(m["accumulatorId"])] = (
                node["nodeName"], m["name"], m.get("metricType", "")
            )
        for c in node.get("children", ()):
            self._plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], int(span) if span else None,
                props.get("callSite.short", ""), e["Submission Time"],
                stages=list(e["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].completed_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            acc = {}
            for a in info.get("Accumulables", ()):
                try:
                    acc[int(a["ID"])] = float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
            self.tasks.append(Task(
                stage=e["Stage ID"],
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                peak_mem=m.get("Peak Execution Memory", 0),
                spill=m.get("Disk Bytes Spilled", 0),
                shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                accums=acc,
            ))
        elif "sparkPlanInfo" in e:  # SQL execution start / AQE update
            self._plan(e["sparkPlanInfo"])

    def jobs_of(self, span_ids: set[int]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in span_ids]

    def tasks_of(self, span_ids: set[int]) -> list[Task]:
        return [t for t in self.tasks
                if t.stage in self.stage_job
                and self.stage_job[t.stage].span in span_ids]

    def node_metric(self, tasks: list[Task], node: str, metric: str) -> float:
        """Sum of a SQL metric of one plan-node kind over ``tasks``, with
        timings in ms."""
        total = 0.0
        for t in tasks:
            for acc_id, v in t.accums.items():
                n = self.metric_node.get(acc_id)
                if n and n[0] == node and n[1] == metric:
                    total += v / 1e6 if n[2] == "nsTiming" else v
        return total

    def node_stages(self, tasks: list[Task], node: str) -> set[int]:
        return {t.stage for t in tasks
                if any(self.metric_node.get(a, ("",))[0] == node for a in t.accums)}


def skew(tasks: list[Task]) -> float:
    """Max over median task run time (1.0 when tasks are even)."""
    times = [t.run_ms for t in tasks]
    if not times:
        return float("nan")
    med = statistics.median(times)
    return max(times) / med if med else float("nan")
