"""Offline reader for an uncompressed, non-rolling Spark event log.

The benchmark's traced runs start their session with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``,
so the log is one JSON object per line and the standard library reads
it. This module folds the task-end events into per-job totals; the
caller assigns jobs to queries by their submission time.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

# SQL metric carried by every Arrow/Python-worker operator
# (MapInPandas, ArrowEvalPython, FlatMapGroupsInPandas, ...), in ms
PYTHON_RUN_METRIC = "time to run Python workers"


@dataclass
class Job:
    job_id: int
    submit_ms: int
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    python_ms: int = 0


@dataclass
class JobTotals:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    python_ms: int = 0

    def add(self, j: Job) -> None:
        self.jobs += 1
        for k in ("tasks", "run_ms", "cpu_ns", "shuffle_write_bytes",
                  "spill_bytes", "input_bytes", "input_records", "python_ms"):
            setattr(self, k, getattr(self, k) + getattr(j, k))

    def cpu_share(self) -> float:
        return (self.cpu_ns / 1e6) / self.run_ms if self.run_ms else 0.0


def latest_log(log_dir: str) -> str:
    """The newest finished application log in ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if not logs:
        raise FileNotFoundError(f"no finished event log in {log_dir}")
    return max(logs, key=os.path.getmtime)


def read_jobs(path: str) -> list[Job]:
    """Every job in the log with its task totals, in job-id order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"])
                jobs[job.job_id] = job
                for s in ev["Stage IDs"]:
                    # a stage listed by several jobs runs its tasks for
                    # the first one; later jobs skip it
                    stage_job.setdefault(s, job.job_id)
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(ev["Stage ID"])
                if job_id is None:
                    continue
                _add_task(jobs[job_id], ev)
    return [jobs[k] for k in sorted(jobs)]


def _add_task(job: Job, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    job.tasks += 1
    job.run_ms += m.get("Executor Run Time", 0)
    job.cpu_ns += m.get("Executor CPU Time", 0)
    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    job.input_bytes += inp.get("Bytes Read", 0)
    job.input_records += inp.get("Records Read", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == PYTHON_RUN_METRIC:
            job.python_ms += int(acc.get("Update") or 0)


def jobs_between(jobs: list[Job], start_s: float, end_s: float) -> list[Job]:
    """Jobs submitted in the wall-clock window [start_s, end_s] (epoch
    seconds). With one client running phases back to back, the window
    of a phase holds exactly the jobs that phase started, including
    jobs started from threads that carry no job group."""
    lo, hi = int(start_s * 1000), int(end_s * 1000) + 1
    return [j for j in jobs if lo <= j.submit_ms <= hi]
