"""Spark event-log reader: per-job and per-task records, attributed to the
benchmark's requests.

The log is read uncompressed, either as a single file per application or as
a rolling ``eventlog_v2_*/events_*`` directory. A job belongs to the request
whose id its ``spark.job.description`` carries (``op<N>:<kind>``); jobs
submitted from threads that do not inherit the description, such as a
streaming query's micro-batch thread, fall back to the request whose wall
interval contains the job's submission time. With one closed-loop client no
two requests overlap, so that interval is unique.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from stats import median
from spans import covered

_OP_TAG = re.compile(r"^op(\d+):")


@dataclass
class Task:
    stage: int
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    peak_mem: int


@dataclass
class Job:
    id: int
    desc: str
    start_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


@dataclass
class OpWindow:
    op: int
    start_ms: float
    end_ms: float


def _log_files(root: str) -> list[str]:
    out = []
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        if os.path.isdir(p) and name.startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            # events_<index>_<appid>: replay in index order
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out += [os.path.join(p, f) for f in parts]
        elif os.path.isfile(p) and not name.startswith("."):
            out.append(p)
    return out


def read_events(root: str):
    for path in _log_files(root):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        stage=ev["Stage ID"],
        run_ms=float(m.get("Executor Run Time", 0)),
        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
        gc_ms=float(m.get("JVM GC Time", 0)),
        shuffle_read=int(sr.get("Remote Bytes Read", 0)
                         + sr.get("Local Bytes Read", 0)),
        shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
        spill=int(m.get("Memory Bytes Spilled", 0)
                  + m.get("Disk Bytes Spilled", 0)),
        peak_mem=int(m.get("Peak Execution Memory", 0)))


def parse(root: str) -> list[Job]:
    """Every job in the log, with its tasks, in submission order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in read_events(root):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = Job(ev["Job ID"], props.get("spark.job.description") or "",
                    ev["Submission Time"], stages=list(ev["Stage IDs"]))
            jobs[j.id] = j
            for s in j.stages:
                stage_job[s] = j.id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                jobs[jid].tasks.append(_task(ev))
    return sorted(jobs.values(), key=lambda j: j.start_ms)


def attribute(jobs: list[Job], ops: list[OpWindow]) -> dict[int, list[Job]]:
    """Map op id -> its jobs (by description tag, else by time window)."""
    known = {o.op for o in ops}
    by_op: dict[int, list[Job]] = {o.op: [] for o in ops}
    windows = sorted(ops, key=lambda o: o.start_ms)
    for j in jobs:
        m = _OP_TAG.match(j.desc)
        if m and int(m.group(1)) in known:
            by_op[int(m.group(1))].append(j)
            continue
        for o in windows:
            if o.start_ms <= j.start_ms <= o.end_ms:
                by_op[o.op].append(j)
                break
    return by_op


def sched_gap_ms(op: OpWindow, jobs: list[Job]) -> float:
    """Op wall time minus the union of its jobs' intervals (clipped to
    the op): time the op spent outside any running Spark job."""
    return (op.end_ms - op.start_ms) - covered(
        [(j.start_ms, j.end_ms) for j in jobs if j.end_ms is not None],
        op.start_ms, op.end_ms)


def summarize(ops: list[OpWindow], by_op: dict[int, list[Job]]) -> dict:
    """Per-op engine metrics: means per op, maxima over all tasks, and
    the worst stage skew (max / median task run time)."""
    n = len(ops)
    tasks = [t for o in ops for j in by_op[o.op] for t in j.tasks]
    stage_runs: dict[int, list[float]] = {}
    for t in tasks:
        stage_runs.setdefault(t.stage, []).append(t.run_ms)
    skews = [max(v) / median(v) for v in stage_runs.values()
             if len(v) >= 2 and median(v) > 0]
    gaps = [sched_gap_ms(o, by_op[o.op]) for o in ops]
    per_op = (lambda x: x / n) if n else (lambda x: 0.0)
    return {
        "spark.jobs_per_op": per_op(sum(len(by_op[o.op]) for o in ops)),
        "spark.tasks_per_op": per_op(len(tasks)),
        "spark.sched_gap_ms_p50": median(gaps) if gaps else 0.0,
        "spark.executor_run_ms": per_op(sum(t.run_ms for t in tasks)),
        "spark.executor_cpu_ms": per_op(sum(t.cpu_ms for t in tasks)),
        "spark.gc_ms": per_op(sum(t.gc_ms for t in tasks)),
        "spark.shuffle_read_bytes": per_op(sum(t.shuffle_read for t in tasks)),
        "spark.shuffle_write_bytes": per_op(sum(t.shuffle_write for t in tasks)),
        "spark.spill_bytes": per_op(sum(t.spill for t in tasks)),
        "spark.peak_exec_mem_bytes": max((t.peak_mem for t in tasks), default=0),
        "spark.task_skew_max": max(skews, default=0.0),
    }
