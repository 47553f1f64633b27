"""Reader for Spark's local JSON event log, and phase attribution.

Spark 4.1 writes a rolling log per application:
``<dir>/eventlog_v2_<app-id>/events_<n>_<app-id>`` (plain JSON lines when
``spark.eventLog.compress=false``). A non-rolling log is a single
``<dir>/<app-id>`` file; both layouts are read.

Jobs are attributed to a phase window by their submission time, not by
job group: jobs submitted from ``ThreadPoolExecutor`` workers lose their
job group under PySpark's pinned-thread mode, but their submission still
falls inside the window of the phase that started them.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

# Spark 4.1 SQL metric names of the Arrow/Python-worker boundary, as
# they appear on task accumulables.
PYTHON_METRICS = {
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "returned_b",
    "time to run Python workers": "run_ms",
    "time to initialize Python workers": "init_ms",
}


@dataclass
class Task:
    stage_id: int
    duration_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_b: int
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int
    result_b: int
    python: dict


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list
    end_ms: int | None = None

    @property
    def result_stage(self) -> int:
        # the result stage is created after all its parents, so it has
        # the highest id among the job's stages
        return max(self.stage_ids)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)     # job id -> Job
    tasks: list = field(default_factory=list)    # Task, in log order
    stage_job: dict = field(default_factory=dict)  # stage id -> first job id


def _event_files(log_dir: str) -> list[str]:
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [(int(m.group(1)), f) for f in os.listdir(path)
                     if (m := re.match(r"events_(\d+)_", f))]
            files += [os.path.join(path, f) for _, f in sorted(parts)]
        elif os.path.isfile(path) and not entry.startswith("."):
            files.append(path)
    return files


def _task(event: dict) -> Task:
    info, metrics = event["Task Info"], event.get("Task Metrics") or {}
    shuffle_read = metrics.get("Shuffle Read Metrics", {})
    python = dict.fromkeys(PYTHON_METRICS.values(), 0)
    for acc in info.get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key:
            python[key] += int(float(acc.get("Update", 0)))
    return Task(
        stage_id=event["Stage ID"],
        duration_ms=info["Finish Time"] - info["Launch Time"],
        run_ms=metrics.get("Executor Run Time", 0),
        cpu_ns=metrics.get("Executor CPU Time", 0),
        gc_ms=metrics.get("JVM GC Time", 0),
        input_b=metrics.get("Input Metrics", {}).get("Bytes Read", 0),
        shuffle_read_b=(shuffle_read.get("Remote Bytes Read", 0)
                        + shuffle_read.get("Local Bytes Read", 0)),
        shuffle_write_b=metrics.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0),
        spill_b=(metrics.get("Memory Bytes Spilled", 0)
                 + metrics.get("Disk Bytes Spilled", 0)),
        result_b=metrics.get("Result Size", 0),
        python=python,
    )


def read(log_dir: str) -> EventLog:
    """Jobs and finished tasks of every application logged in ``log_dir``.
    Job and stage ids are unique per application, so each application
    is read into its own id space offset by the ones before it."""
    log = EventLog()
    offset = 0
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerApplicationStart":
                    offset = 1 + max([*log.jobs, *log.stage_job, -1])
                elif kind == "SparkListenerJobStart":
                    job = Job(offset + event["Job ID"], event["Submission Time"],
                              [offset + s for s in event["Stage IDs"]])
                    log.jobs[job.job_id] = job
                    for s in job.stage_ids:
                        log.stage_job.setdefault(s, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    log.jobs[offset + event["Job ID"]].end_ms = event["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    task = _task(event)
                    task.stage_id += offset
                    log.tasks.append(task)
    return log


def attribute(log: EventLog, windows: list[tuple]) -> tuple[dict, list]:
    """Map each job to the window its submission falls in.

    ``windows`` holds ``(key, start_s, end_s)`` in wall-clock seconds.
    Returns ``({key: [Job]}, [unattributed Job])``; a job goes to the
    latest window that started at or before its submission.
    """
    spans = sorted(((int(s * 1000), int(e * 1000) + 1, k) for k, s, e in windows),
                   key=lambda w: w[0])
    out = {k: [] for k, _, _ in windows}
    orphans = []
    for job in sorted(log.jobs.values(), key=lambda j: j.submit_ms):
        owner = None
        for start, end, key in spans:
            if start > job.submit_ms:
                break
            if job.submit_ms <= end:
                owner = key
        (out[owner] if owner is not None else orphans).append(job)
    return out, orphans


def _union_ms(intervals: list[tuple], lo: int, hi: int) -> int:
    covered, cursor = 0, lo
    for start, end in sorted(intervals):
        start, end = max(start, cursor), min(end, hi)
        if end > start:
            covered += end - start
            cursor = end
    return covered


def summarize(log: EventLog, jobs: list[Job], start_s: float,
              end_s: float) -> dict:
    """Counters of one phase window over the jobs attributed to it."""
    ids = {j.job_id for j in jobs}
    result_stages = {j.result_stage for j in jobs}
    tasks = [t for t in log.tasks if log.stage_job.get(t.stage_id) in ids]
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage_id, []).append(t.duration_ms)
    skew = max((max(d) / max(1, statistics.median(d)) for d in by_stage.values()),
               default=1.0)
    lo, hi = int(start_s * 1000), int(end_s * 1000)
    busy = _union_ms([(j.submit_ms, j.end_ms or hi) for j in jobs], lo, hi)
    mb = 1 / 2**20
    return {
        "wall_s": end_s - start_s,
        "driver_s": max(0, hi - lo - busy) / 1000,
        "jobs": len(jobs),
        "stages": len(by_stage),
        "tasks": len(tasks),
        "task_s": sum(t.run_ms for t in tasks) / 1000,
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000,
        "input_mb": sum(t.input_b for t in tasks) * mb,
        "shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) * mb,
        "shuffle_read_mb": sum(t.shuffle_read_b for t in tasks) * mb,
        "spill_mb": sum(t.spill_b for t in tasks) * mb,
        "result_mb": sum(t.result_b for t in tasks if t.stage_id in result_stages) * mb,
        "skew_max": skew,
        "python_sent_mb": sum(t.python["sent_b"] for t in tasks) * mb,
        "python_returned_mb": sum(t.python["returned_b"] for t in tasks) * mb,
        "python_run_s": sum(t.python["run_ms"] for t in tasks) / 1000,
        "python_init_s": sum(t.python["init_ms"] for t in tasks) / 1000,
    }
