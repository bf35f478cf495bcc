"""Spark event-log parsing: jobs, stages and task totals per job.

The event log is one JSON object per line. Only five events are read:
job start (submission time, stage ids, local properties — among them
the ``perfbench.span`` id of the span that submitted the job), job end,
stage completion (stages that really ran; skipped stages never
complete), and task end (metrics of every finished task attempt).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from perfbench.spans import SPAN_PROPERTY


@dataclass
class Tasks:
    """Totals over task attempts. Times in ms, sizes in bytes."""

    count: int = 0
    failed: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input: int = 0
    output: int = 0

    def add(self, other: Tasks) -> None:
        for f in self.__dataclass_fields__:
            setattr(self, f, getattr(self, f) + getattr(other, f))


@dataclass
class Job:
    id: int
    span: int | None
    submit_ms: int
    end_ms: int | None = None
    succeeded: bool | None = None
    stages_run: int = 0
    tasks: Tasks = field(default_factory=Tasks)


def _task(ev: dict) -> Tasks:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason")
    return Tasks(
        count=1,
        failed=int(reason != "Success"),
        run_ms=m.get("Executor Run Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        input=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        output=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
    )


def parse(lines) -> dict[int, Job]:
    """Jobs by id from an iterable of event-log lines. A task or stage is
    charged to the lowest-numbered job that lists its stage: a stage
    shared by later jobs (a reused shuffle) runs only in the first."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROPERTY) or None
            job = Job(ev["Job ID"], int(span) if span else None, ev["Submission Time"])
            jobs[job.id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = min(stage_job.get(sid, job.id), job.id)
        elif kind == "SparkListenerJobEnd":
            job = jobs[ev["Job ID"]]
            job.end_ms = ev["Completion Time"]
            job.succeeded = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].stages_run += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].tasks.add(_task(ev))
    return jobs


def read(path: str) -> dict[int, Job]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def busy_ms(jobs: list[Job]) -> int:
    """Wall time covered by at least one running job (union of the
    submission-to-completion intervals)."""
    total, reach = 0, None
    for j in sorted(jobs, key=lambda j: j.submit_ms):
        if j.end_ms is None:
            continue
        lo = j.submit_ms if reach is None else max(j.submit_ms, reach)
        if j.end_ms > lo:
            total += j.end_ms - lo
            reach = j.end_ms
    return total
