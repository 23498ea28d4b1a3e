"""Spans for the traced run.

The benchmark records request, plan and exec spans itself; Spark's
event log gives the job, stage, task and SQL-execution records. Jobs
belong to a request through the job group the benchmark sets before
each request. All times are epoch seconds.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field


# the output path of a file write in a physical plan description
_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: file:([^,]+),"
)


@dataclass
class Span:
    kind: str
    start: float
    end: float
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _clusters(parent: Span) -> list[Span]:
    """The parent's children clipped to it (event-log times have
    millisecond resolution), with overlapping ones merged: time during
    which two stages or jobs run at once is counted once."""
    kids = sorted(
        (Span(c.kind, max(c.start, parent.start), min(c.end, parent.end), c.children)
         for c in parent.children),
        key=lambda c: c.start,
    )
    out: list[Span] = []
    for c in kids:
        if c.end <= c.start:
            continue
        if out and c.start < out[-1].end:
            last = out[-1]
            out[-1] = Span(last.kind, last.start, max(last.end, c.end),
                           last.children + c.children)
        else:
            out.append(c)
    return out


def self_times(root: Span, acc: dict[str, float] | None = None) -> dict[str, float]:
    """Time per span kind along the request's blocking path: each
    instant goes to the deepest span running then. A span's self time
    is its duration minus the part its children cover, so the values
    add up to the root's duration."""
    acc = {} if acc is None else acc
    kids = _clusters(root)
    acc[root.kind] = acc.get(root.kind, 0.0) + root.dur - sum(c.dur for c in kids)
    for c in kids:
        self_times(c, acc)
    return acc


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)
    sql: dict[int, dict] = field(default_factory=dict)


def parse_event_log(log_dir: str) -> EventLog:
    """Jobs (group, start, end, stage ids, task metrics summed over
    their stages), stages (start, end) and SQL executions (write
    target, start, end) from the single application log in
    ``log_dir``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    log = EventLog()
    task_sums: dict[int, dict[str, float]] = {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    log.stages[info["Stage ID"]] = {
                        "start": info["Submission Time"] / 1000,
                        "end": info["Completion Time"] / 1000,
                    }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sums = task_sums.setdefault(ev["Stage ID"], {})
                for key, value in (
                    ("tasks", 1),
                    ("cpu_s", m.get("Executor CPU Time", 0) / 1e9),
                    ("gc_s", m.get("JVM GC Time", 0) / 1000),
                    ("shuffle_write_bytes",
                     (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
                    ("spill_bytes",
                     m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
                ):
                    sums[key] = sums.get(key, 0) + value
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                target = _WRITE_TARGET.search(ev.get("physicalPlanDescription", ""))
                log.sql[ev["executionId"]] = {
                    "target": target.group(1) if target else None,
                    "start": ev["time"] / 1000,
                    "end": None,
                }
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in log.sql:
                    log.sql[ev["executionId"]]["end"] = ev["time"] / 1000
    # a stage that a later job reuses is listed by that job too, but ran
    # in the first job that lists it
    owner: dict[int, int] = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in log.jobs.items():
        job["stages"] = [sid for sid in job["stages"] if owner[sid] == jid]
        job["metrics"] = {}
        for sid in job["stages"]:
            for key, value in task_sums.get(sid, {}).items():
                job["metrics"][key] = job["metrics"].get(key, 0) + value
    return log


def jobs_of(log: EventLog, group: str) -> list[dict]:
    return [
        j for j in log.jobs.values() if j["group"] == group and j["end"] is not None
    ]


def job_span(log: EventLog, job: dict) -> Span:
    span = Span("job", job["start"], job["end"])
    for sid in job["stages"]:
        st = log.stages.get(sid)
        if st is not None:  # a stage skipped in every job never ran
            span.children.append(Span("stage", st["start"], st["end"]))
    return span


def request_tree(log: EventLog, group: str, start: float, end: float,
                 phases: list[Span]) -> Span:
    """request -> phases (plan/exec, may be empty) -> jobs -> stages.
    A job hangs under the phase in which it was submitted."""
    spans = [Span(p.kind, p.start, p.end) for p in phases]
    root = Span("request", start, end, list(spans))
    for job in jobs_of(log, group):
        parent = next((p for p in spans if p.start <= job["start"] <= p.end), root)
        parent.children.append(job_span(log, job))
    return root
