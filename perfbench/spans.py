"""In-memory spans around package calls, and per-span Spark counters.

A span records ``(name, start, end, parent, op_id)``.  In a traced run
each span also sets a Spark job group so every job it launches can be
attributed from the event log afterwards.  In an untraced run ``Tracer(enabled=False)``
hands out a no-op context manager, so the timed code is identical.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), name, time.time(), parent=parent.id if parent else None,
                 op_id=op_id or (parent.op_id if parent else None), attrs=dict(attrs))
        stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{s.id}", name, False)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent.id}", parent.name, False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children may overlap each other; the covered union is subtracted)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_len(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        )
        out[s.id] = s.wall - covered
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class JobRec:
    job_id: int
    group: str | None
    submit_ms: int
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, JobRec] = field(default_factory=dict)
    # stage id -> (submission ms, completion ms)
    stage_times: dict[int, tuple[int, int]] = field(default_factory=dict)
    # stage id -> accumulated task counters
    stage_tasks: dict[int, dict] = field(default_factory=dict)


_TASK_KEYS = ("tasks", "failed_tasks", "run_ms", "shuffle_write_b", "spill_b")


def parse_event_log(lines) -> EventLog:
    """Fold a Spark JSON event log into per-job and per-stage records."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = JobRec(
                ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"],
                list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                log.stage_times[info["Stage ID"]] = (
                    info["Submission Time"], info.get("Completion Time", info["Submission Time"]))
        elif kind == "SparkListenerTaskEnd":
            acc = log.stage_tasks.setdefault(ev["Stage ID"], dict.fromkeys(_TASK_KEYS, 0))
            info = ev.get("Task Info") or {}
            acc["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success" or info.get("Failed"):
                acc["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc["run_ms"] += m.get("Executor Run Time", 0)
            acc["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return log


def span_counters(spans: list[Span], log: EventLog) -> dict[int, dict]:
    """Inclusive Spark counters per span (its own jobs plus those of
    every descendant): jobs, tasks, task_busy_s, driver_s and
    shuffle_write_mb.  ``driver_s`` is the span's wall time during which
    no stage of its jobs was running."""
    by_id = {s.id: s for s in spans}
    own: dict[int, list[JobRec]] = {}
    for job in log.jobs.values():
        if job.group and job.group.startswith("span-"):
            sid = int(job.group[5:])
            if sid in by_id:
                own.setdefault(sid, []).append(job)
    incl: dict[int, list[JobRec]] = {s.id: list(own.get(s.id, [])) for s in spans}
    for s in spans:  # push every job up the ancestor chain
        p = s.parent
        while p is not None and p in by_id:
            incl[p].extend(own.get(s.id, []))
            p = by_id[p].parent
    out = {}
    for s in spans:
        jobs = incl[s.id]
        stages = {st for j in jobs for st in j.stages if st in log.stage_tasks}
        acc = dict.fromkeys(_TASK_KEYS, 0)
        for st in stages:
            for k in _TASK_KEYS:
                acc[k] += log.stage_tasks[st][k]
        active = [
            (max(log.stage_times[st][0] / 1000.0, s.start), min(log.stage_times[st][1] / 1000.0, s.end))
            for st in stages if st in log.stage_times
        ]
        out[s.id] = {
            "jobs": len(jobs),
            "tasks": acc["tasks"],
            "task_busy_s": acc["run_ms"] / 1000.0,
            "driver_s": max(0.0, s.wall - _union_len(active)),
            "shuffle_write_mb": acc["shuffle_write_b"] / 1e6,
        }
    return out
