"""Fold a Spark event log into per-job and per-group totals.

The traced run enables an uncompressed, non-rolling event log and sets
one job group per operation. This module reads that log back and sums,
per job: tasks, executor run time, JVM GC time, shuffle bytes written
and read, disk spill, input bytes and Python-worker run time. Jobs are
then grouped by any key (job group, or the span a job started in), and
``covered`` measures how much of a wall interval Spark jobs covered,
so the rest can be reported as driver-side gap.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

TOTALS = (
    "tasks",
    "exec_run_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "py_worker_ms",
)

#: SQL accumulable that Spark's Arrow/pandas Python exec nodes update
#: with the milliseconds a task spent running its Python worker.
PY_WORKER_RUN = "time to run Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    totals: dict[str, int] = field(default_factory=lambda: dict.fromkeys(TOTALS, 0))


def read_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _task_totals(event: dict) -> dict[str, int]:
    m = event.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    py_ms = sum(
        int(a.get("Update") or 0)
        for a in (event.get("Task Info") or {}).get("Accumulables", [])
        if a.get("Name") == PY_WORKER_RUN
    )
    return {
        "tasks": 1,
        "exec_run_ms": int(m.get("Executor Run Time", 0)),
        "gc_ms": int(m.get("JVM GC Time", 0)),
        "shuffle_write_bytes": int(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        ),
        "shuffle_read_bytes": int(shuffle_read.get("Remote Bytes Read", 0))
        + int(shuffle_read.get("Local Bytes Read", 0)),
        "spill_bytes": int(m.get("Disk Bytes Spilled", 0)),
        "input_bytes": int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
        "py_worker_ms": py_ms,
    }


def fold_jobs(events: list[dict]) -> dict[int, Job]:
    """Per-job totals. A task counts toward the first job that listed
    its stage (a stage reused by a later job runs no tasks again)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(
                job_id=e["Job ID"],
                group=(e.get("Properties") or {}).get("spark.jobGroup.id"),
                submit_ms=int(e["Submission Time"]),
            )
            jobs[job.job_id] = job
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end_ms = int(e["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e.get("Stage ID"))
            if jid is None:
                continue
            totals = jobs[jid].totals
            for k, v in _task_totals(e).items():
                totals[k] += v
    return jobs


def fold_groups(jobs, key=lambda job: job.group) -> dict:
    """Sum jobs by ``key(job)``: ``{key: {"jobs": n, <TOTALS>...,
    "intervals": [(submit_ms, end_ms), ...]}}``."""
    out: dict = {}
    for job in jobs:
        k = key(job)
        acc = out.setdefault(k, {"jobs": 0, **dict.fromkeys(TOTALS, 0), "intervals": []})
        acc["jobs"] += 1
        for t in TOTALS:
            acc[t] += job.totals[t]
        acc["intervals"].append((job.submit_ms, job.end_ms or job.submit_ms))
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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
