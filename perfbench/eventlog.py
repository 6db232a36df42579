"""Spark event-log parsing and attribution of jobs to benchmark spans.

The traced run starts its session with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and rolling off, so the log is one
JSON object per line. After ``spark.stop()`` flushes it, every job is
attributed to a span:

1. by the ``perfbench.span`` local property the span set in the thread
   that launched the job (exact, also for pool threads that open their
   own spans);
2. otherwise by time window — the innermost span (latest start) whose
   interval contains the job's submission time.

Each job carries the task metrics of its stages, and ``counters``
sums them per span: jobs, tasks, task_s, task_skew, shuffle_bytes,
shuffle_records, spill_bytes, gc_s, failed_tasks, input_records and
output_records.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

from spans import SPAN_PROPERTY

COUNTERS = (
    "jobs", "tasks", "task_s", "task_skew", "shuffle_bytes",
    "shuffle_records", "spill_bytes", "gc_s", "failed_tasks",
)


@dataclass
class Job:
    id: int
    submit_ms: int
    stages: list[int]
    span: int | None = None
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    failed_tasks: int = 0
    input_records: int = 0
    output_records: int = 0
    # stage id → task run times (s), for the skew ratio
    stage_task_s: dict = field(default_factory=dict)


def event_files(log_dir: str) -> list[str]:
    """Uncompressed, non-rolling event logs (one file per application)."""
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith((".zstd", ".lz4", ".snappy"))
    )


def parse_events(lines) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            raw = props.get(SPAN_PROPERTY)
            job = Job(
                id=ev["Job ID"],
                submit_ms=ev.get("Submission Time", 0),
                stages=list(ev.get("Stage IDs") or []),
                span=int(raw) if raw not in (None, "") else None,
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            run_s = metrics.get("Executor Run Time", 0) / 1000.0
            job.tasks += 1
            job.task_s += run_s
            job.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
            job.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
            write = metrics.get("Shuffle Write Metrics") or {}
            job.shuffle_bytes += write.get("Shuffle Bytes Written", 0)
            job.shuffle_records += write.get("Shuffle Records Written", 0)
            job.input_records += (metrics.get("Input Metrics") or {}).get(
                "Records Read", 0
            )
            job.output_records += (metrics.get("Output Metrics") or {}).get(
                "Records Written", 0
            )
            if info.get("Failed"):
                job.failed_tasks += 1
            job.stage_task_s.setdefault(ev["Stage ID"], []).append(run_s)
    return sorted(jobs.values(), key=lambda j: j.id)


def read_jobs(log_dir: str) -> list[Job]:
    jobs: list[Job] = []
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            jobs.extend(parse_events(fh))
    return jobs


def attribute(jobs: list[Job], spans, epoch_offset: float) -> dict[int, list[Job]]:
    """Span id → the jobs attributed to it (see module docstring).
    ``epoch_offset`` maps span clock seconds to epoch seconds."""
    known = {s.id for s in spans}
    windows = [
        (s.start + epoch_offset, (s.end or s.start) + epoch_offset, s)
        for s in spans
    ]
    out: dict[int, list[Job]] = {}
    for job in jobs:
        sid = job.span if job.span in known else None
        if sid is None:
            t = job.submit_ms / 1000.0
            inside = [s for a, b, s in windows if a <= t <= b]
            if inside:
                sid = max(inside, key=lambda s: s.start).id
        if sid is not None:
            out.setdefault(sid, []).append(job)
    return out


def skew(stage_times: list[list[float]]) -> float:
    """Worst max/median task-time ratio over stages with ≥ 2 tasks."""
    worst = 1.0
    for times in stage_times:
        if len(times) < 2:
            continue
        mid = statistics.median(times)
        if mid > 0:
            worst = max(worst, max(times) / mid)
    return worst


def counters(jobs: list[Job]) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "task_s": sum(j.task_s for j in jobs),
        "task_skew": skew([t for j in jobs for t in j.stage_task_s.values()]),
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "shuffle_records": sum(j.shuffle_records for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "failed_tasks": sum(j.failed_tasks for j in jobs),
        "input_records": sum(j.input_records for j in jobs),
        "output_records": sum(j.output_records for j in jobs),
    }


def subtree_jobs(span_id: int, spans, by_span: dict[int, list[Job]]) -> list[Job]:
    """Jobs of a span and all of its descendants."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)
    out, todo = [], [span_id]
    while todo:
        sid = todo.pop()
        out.extend(by_span.get(sid, []))
        todo.extend(children.get(sid, []))
    return out
