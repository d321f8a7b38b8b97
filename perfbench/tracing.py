"""Spans around the benchmark's calls into the engine, plus the Spark-side
attribution of each span: job ids from the status tracker and task metrics
from the Spark event log, both keyed by a per-span job group.

Spans live in memory for the whole run and are written out once, when the
run ends. Nothing here reaches into ``iresearch_spark``: a span wraps a call
to one of its public functions, and Spark work is attributed to the span
through the job group the benchmark sets around that call.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds, comparable with event-log millisecond stamps
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
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


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it that its children cover."""
    return span.wall - union_length(
        [(c.start, c.end) for c in children], span.start, span.end
    )


class Tracer:
    """Records nested spans; with a SparkContext, tags each span's Spark
    jobs with the span's own job group. While ``active`` is false, spans
    are not recorded and no job group is set."""

    def __init__(self, sc=None, active: bool = True):
        self.sc = sc
        self.active = active
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=next(self._ids),
            parent=parent.id if parent else None,
            name=name,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(s.group))
            self._set_group(parent)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        """``s`` and every span below it."""
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write every span, with its self time, as one JSON document."""
        spans = [
            {**asdict(s), "self_s": self_time(s, self.children(s))}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, **(extra or {})}, fh)
            fh.write("\n")


# ------------------------------------------------------------ event log


@dataclass
class GroupStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    retried_stages: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> "GroupStats":
        out = GroupStats()
        for k in out.__dataclass_fields__:
            setattr(out, k, getattr(self, k) + getattr(other, k))
        return out


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed, non-rolling) log in ``log_dir``."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def aggregate_event_log(events: list[dict]) -> dict[str, GroupStats]:
    """Per job group: jobs and their wall intervals, tasks, failures,
    stage retries and the summed task metrics. Work without a group is
    filed under the empty string."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupStats] = {}

    def stats(group: str) -> GroupStats:
        return out.setdefault(group, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000.0
            stats(group).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                stats(job_group[jid]).job_intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group[info["Stage ID"]] = group
            if info.get("Stage Attempt ID", 0) > 0:
                stats(group).retried_stages += 1
        elif kind == "SparkListenerTaskEnd":
            st = stats(stage_group.get(ev["Stage ID"], ""))
            st.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                st.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            st.task_run_s += m.get("Executor Run Time", 0) / 1000.0
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            inp = m.get("Input Metrics") or {}
            st.input_rows += inp.get("Records Read", 0)
            st.input_bytes += inp.get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def span_stats(tracer: Tracer, groups: dict[str, GroupStats], s: Span) -> GroupStats:
    """Spark work of ``s`` and every span below it."""
    total = GroupStats()
    for sub in tracer.subtree(s):
        total = total.add(groups.get(sub.group, GroupStats()))
    return total


def driver_serial_s(s: Span, st: GroupStats) -> float:
    """Wall time of ``s`` during which none of its Spark jobs was running."""
    return s.wall - union_length(st.job_intervals, s.start, s.end)
