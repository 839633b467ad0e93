"""Spans around the benchmark's calls into each layer, and the fold of
Spark's JSON event log onto them.

A span is (name, start, end, parent) in epoch milliseconds, kept in memory.
The fold reads the event log the traced session wrote and assigns each
finished task, through its stage and the job that ran the stage, to the
innermost span whose interval holds the job's submission time. It does not
use job groups: ``pipeline.write_stats`` submits from a thread pool, whose
threads do not inherit job-group properties.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return (self.end - self.start) / 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time() * 1000.0, parent=self._open[-1].name if self._open else None)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time() * 1000.0
            self._open.pop()
            self.spans.append(s)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)


@dataclass
class Totals:
    """Task metrics summed over the tasks of some set of jobs."""

    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    write_task_ms: list = field(default_factory=list)

    def add_task(self, m: dict) -> None:
        self.tasks += 1
        self.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1000.0
        self.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        written = m.get("Output Metrics", {}).get("Bytes Written", 0)
        self.output_bytes += written
        if written:
            self.write_task_ms.append(m.get("Executor Run Time", 0))
        self.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        self.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )

    def task_skew(self) -> float:
        """Max over median run time of the tasks that wrote output."""
        t = self.write_task_ms
        return max(t) / statistics.median(t) if t and statistics.median(t) else 0.0


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    execution: int | None = None
    totals: Totals = field(default_factory=Totals)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    #: SQL execution id → (description, physical plan text, start, end)
    executions: dict[int, dict]


_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
    "SQLExecutionStart",
    "SQLExecutionEnd",
)


def read_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    executions: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:120]
            if not any(w in head for w in _WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                job = Job(
                    e["Job ID"],
                    float(e["Submission Time"]),
                    stages=[s["Stage ID"] for s in e["Stage Infos"]],
                    execution=int(ex) if ex is not None else None,
                    totals=Totals(jobs=1),
                )
                jobs[job.id] = job
                # a stage listed again by a later job is a reused (skipped)
                # one: its tasks ran under the first job that listed it
                for sid in job.stages:
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = float(e["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is not None and e.get("Task Metrics"):
                    jobs[jid].totals.add_task(e["Task Metrics"])
            elif kind.endswith("SQLExecutionStart"):
                executions[e["executionId"]] = {
                    "description": e.get("description", ""),
                    "plan": e.get("physicalPlanDescription", ""),
                    "start": float(e["time"]),
                }
            elif kind.endswith("SQLExecutionEnd"):
                if e["executionId"] in executions:
                    executions[e["executionId"]]["end"] = float(e["time"])
    return EventLog(jobs, executions)


def merge(totals: list[Totals]) -> Totals:
    out = Totals()
    for t in totals:
        out.jobs += t.jobs
        out.tasks += t.tasks
        out.cpu_s += t.cpu_s
        out.gc_s += t.gc_s
        out.input_bytes += t.input_bytes
        out.output_bytes += t.output_bytes
        out.shuffle_write_bytes += t.shuffle_write_bytes
        out.spill_bytes += t.spill_bytes
        out.write_task_ms += t.write_task_ms
    return out


def jobs_by_span(log: EventLog, spans: list[Span]) -> dict[str, list[Job]]:
    """Each job goes to the innermost (shortest) span holding its
    submission time; jobs outside every span are dropped."""
    out: dict[str, list[Job]] = defaultdict(list)
    for job in sorted(log.jobs.values(), key=lambda j: j.submit):
        holders = [s for s in spans if s.start <= job.submit <= s.end]
        if holders:
            out[min(holders, key=lambda s: s.end - s.start).name].append(job)
    return out


def pipeline_phases(log: EventLog, jobs: list[Job]) -> dict[str, list[Job]]:
    """Split the jobs of one ``pipeline.run`` into day discovery, the routed
    write and the manifest counts, by the call site Spark recorded for their
    SQL execution: the first ``collect`` is the day scan, a ``parquet``
    or ``save`` is the write, a later ``collect`` is the manifest count.
    A job without an execution (file listing, schema reads) joins the phase
    of the next job that has one."""
    labels: list[str | None] = []
    seen_write = False
    for job in jobs:
        ex = log.executions.get(job.execution) if job.execution is not None else None
        desc = ex["description"] if ex else ""
        if desc.startswith(("parquet at", "save at")):
            seen_write = True
            labels.append("write")
        elif desc.startswith("collect at"):
            labels.append("manifest" if seen_write else "discover")
        else:
            labels.append(None)
    nxt = "manifest"
    for i in range(len(labels) - 1, -1, -1):
        if labels[i] is None:
            labels[i] = nxt
        nxt = labels[i]
    phases: dict[str, list[Job]] = {"discover": [], "write": [], "manifest": []}
    for job, label in zip(jobs, labels):
        phases[label].append(job)
    return phases


def wall_s(jobs: list[Job]) -> float:
    """From the first submission to the last completion of ``jobs``."""
    if not jobs:
        return 0.0
    return (max(j.end for j in jobs) - min(j.submit for j in jobs)) / 1000.0


def wall_by_output_dir(log: EventLog, jobs: list[Job], dirs: list[str]) -> dict[str, float]:
    """Seconds from start to end of the SQL executions, among those of
    ``jobs``, whose physical plan writes each directory (a path ending)."""
    out: dict[str, float] = {}
    for d in dirs:
        needle = re.compile(rf"/{re.escape(d)}(?!\w)")
        exs = [
            log.executions[x]
            for x in {j.execution for j in jobs if j.execution in log.executions}
            if needle.search(log.executions[x]["plan"])
        ]
        out[d] = (
            (max(e.get("end", e["start"]) for e in exs) - min(e["start"] for e in exs)) / 1000.0
            if exs
            else 0.0
        )
    return out
