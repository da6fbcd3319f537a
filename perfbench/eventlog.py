"""Spark event-log parser: jobs, stages, tasks, SQL executions and
streaming progress, attributed to the benchmark's trace spans.

A job belongs to the span named by its ``spark.jobGroup.id`` property
(the tracer sets the group to the span id). Jobs whose group is not a
span id — Structured Streaming sets each query's group to its run id —
belong to the innermost span open at the job's submission time; with
one client thread, spans nest and never overlap, so that span is
unique. Stages and tasks follow their job, SQL executions their
``jobGroupId``.

The log must be uncompressed (``spark.eventLog.compress=false``): no
zstd decoder is assumed. Both the single-file and the rolling
(``eventlog_v2_<app>/events_<n>_<app>``) layouts are read.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# RDD scope names of the physical operators that run Python workers.
_PYTHON_OPS = re.compile(r"Python|InPandas|InArrow|Pandas")


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    span: str | None = None


@dataclass
class Task:
    stage_id: int
    attempt: int
    failed: bool
    run_ms: int
    cpu_ns: int
    sched_ms: int
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)
    python_stages: set[int] = field(default_factory=set)
    stage_attempts: dict[int, int] = field(default_factory=dict)
    sql_groups: dict[int, str | None] = field(default_factory=dict)
    aqe_updates: dict[int, int] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)


def log_files(path: str) -> list[str]:
    """The event files of one application, in write order."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def find_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def parse(path: str) -> Log:
    log = Log()
    for fname in log_files(path):
        with open(fname) as f:
            for line in f:
                _event(log, json.loads(line))
    return log


def _event(log: Log, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                  e["Submission Time"], stage_ids=list(e["Stage IDs"]))
        log.jobs[job.job_id] = job
        for sid in job.stage_ids:
            log.stage_job.setdefault(sid, job.job_id)
        for info in e.get("Stage Infos", []):
            _stage_scopes(log, info)
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(e["Job ID"])
        if job is not None:
            job.end_ms = e["Completion Time"]
    elif kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        _stage_scopes(log, info)
        sid = info["Stage ID"]
        log.stage_attempts[sid] = max(log.stage_attempts.get(sid, 0),
                                      info["Stage Attempt ID"] + 1)
    elif kind == "SparkListenerTaskEnd":
        _task(log, e)
    elif kind.endswith("SparkListenerSQLExecutionStart"):
        log.sql_groups[e["executionId"]] = e.get("jobGroupId")
    elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
        eid = e["executionId"]
        log.aqe_updates[eid] = log.aqe_updates.get(eid, 0) + 1
    elif kind.endswith("QueryProgressEvent"):
        log.progress.append(e["progress"])


def _stage_scopes(log: Log, info: dict) -> None:
    for rdd in info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope and _PYTHON_OPS.search(json.loads(scope).get("name", "")):
            log.python_stages.add(info["Stage ID"])
            return


def _task(log: Log, e: dict) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0)
    wall = info["Finish Time"] - info["Launch Time"]
    sched = wall - run - m.get("Executor Deserialize Time", 0) \
        - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    log.tasks.append(Task(
        stage_id=e["Stage ID"],
        attempt=info["Attempt"],
        failed=bool(info.get("Failed")) or info.get("Killed", False),
        run_ms=run,
        cpu_ns=m.get("Executor CPU Time", 0),
        sched_ms=max(0, sched),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read_bytes=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
    ))


def attribute(log: Log, spans: list[dict]) -> None:
    """Set ``job.span`` for every job: by job group when the group is a
    span id, else by the innermost span open at submission time.
    ``spans`` items carry ``id``, ``start`` and ``end`` (epoch s)."""
    ids = {s["id"] for s in spans}
    # innermost = latest-starting span that contains the instant
    ordered = sorted(spans, key=lambda s: s["start"])
    for job in log.jobs.values():
        if job.group in ids:
            job.span = job.group
            continue
        t = job.submit_ms / 1000.0
        for s in reversed(ordered):
            if s["start"] <= t <= s["end"]:
                job.span = s["id"]
                break


def union_s(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one (start, end) interval."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(lo, a), min(hi, b)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_union_s(jobs: list[Job], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which at least one of ``jobs`` ran."""
    return union_s(
        [(j.submit_ms / 1000.0, (j.end_ms or j.submit_ms) / 1000.0) for j in jobs],
        lo, hi)


def totals(log: Log, span_ids: set[str] | None = None) -> dict:
    """Job/stage/task totals over the jobs attributed to ``span_ids``
    (every job when None)."""
    jobs = [j for j in log.jobs.values()
            if span_ids is None or j.span in span_ids]
    job_ids = {j.job_id for j in jobs}
    stages = {sid for sid, jid in log.stage_job.items() if jid in job_ids}
    tasks = [t for t in log.tasks if t.stage_id in stages]
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(jobs),
        "stages": sum(log.stage_attempts.get(s, 0) for s in stages),
        "tasks": len(tasks),
        "task_run_s": sum(t.run_ms for t in tasks) / 1000.0,
        "task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "sched_delay_s": sum(t.sched_ms for t in tasks) / 1000.0,
        "shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / mb,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / mb,
        "spill_mb": sum(t.spill_bytes for t in tasks) / mb,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "python_udf_s": sum(t.run_ms for t in tasks
                            if t.stage_id in log.python_stages) / 1000.0,
        "task_retry_frac": (sum(1 for t in tasks if t.attempt > 0 or t.failed)
                            / len(tasks)) if tasks else 0.0,
    }
