"""Per-call layer accounting, recorded from outside the program.

The benchmark makes one public call at a time, so everything Spark does
between a call's start and end belongs to that call:

- ``Tracer.call`` brackets a call with the scheduler's job and stage id
  counters (exact, synchronous) and wall-clock bounds, and, for calls that
  write to a lake, a listing of the lake's files before and after.
- ``parse_event_log`` reads Spark's JSON event log once the session has
  stopped; ``attribute`` folds its job, stage and task records onto the
  calls by job-id range, and counts the jobs by start time as a second,
  independent count of the same thing.

Nothing here imports Spark at module level; ``Tracer`` talks to a live
``SparkContext`` through its JVM handle.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Call:
    """One public call: its name, wall-clock bounds (epoch ms), the scheduler's
    job/stage id counters before and after, and the lake files it left."""

    name: str
    t0_ms: float = 0.0
    t1_ms: float = 0.0
    job0: int = 0
    job1: int = 0
    stage0: int = 0
    stage1: int = 0
    files_written: int = 0
    bytes_written: int = 0

    @property
    def wall_s(self) -> float:
        return (self.t1_ms - self.t0_ms) / 1e3


def list_files(root: str) -> dict[str, tuple[int, int]]:
    """``{path: (size, mtime_ns)}`` for every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    """Brackets public calls with ``Call`` records. With ``enabled`` false
    the bracket only times the call, so an untraced run pays nothing."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self._dag = spark.sparkContext._jsc.sc().dagScheduler() if enabled else None

    def counters(self) -> tuple[int, int]:
        """(next job id, next stage id) of the DAG scheduler."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    @contextmanager
    def call(self, name: str, lake_root: str | None = None):
        rec = Call(name)
        before = list_files(lake_root) if self.enabled and lake_root else None
        if self.enabled:
            rec.job0, rec.stage0 = self.counters()
        rec.t0_ms = time.time() * 1e3
        yield rec
        rec.t1_ms = time.time() * 1e3
        if self.enabled:
            rec.job1, rec.stage1 = self.counters()
        if before is not None:
            after = list_files(lake_root)
            new = [p for p, meta in after.items() if before.get(p) != meta]
            rec.files_written = len(new)
            rec.bytes_written = sum(after[p][0] for p in new)


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # id -> start/end/stages
    stage_job: dict[int, int] = field(default_factory=dict)  # stage -> first job
    tasks: dict[int, dict] = field(default_factory=dict)  # stage -> summed metrics


_TASK_KEYS = ("tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes")


def parse_event_log(path: str) -> EventLog:
    """Fold an uncompressed, non-rolling Spark event log into per-job
    bounds and per-stage task-metric sums."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                log.jobs[jid] = {"start": ev["Submission Time"], "end": None}
                for sid in ev.get("Stage IDs", []):
                    log.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                log.jobs.setdefault(ev["Job ID"], {"start": None})["end"] = ev[
                    "Completion Time"
                ]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc = log.tasks.setdefault(ev["Stage ID"], dict.fromkeys(_TASK_KEYS, 0))
                acc["tasks"] += 1
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return log


def find_event_log(log_dir: str) -> str:
    """The one application log Spark wrote under ``log_dir``."""
    logs = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return logs[0]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length in seconds of the union of ``[start, end]`` ms intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def attribute(call: Call, log: EventLog, cores: int) -> dict[str, float]:
    """Spark work of one call: jobs and stages by the counters' id ranges,
    the same jobs counted again by start time, and task metrics summed over
    the stages those jobs ran."""
    job_ids = range(call.job0, call.job1)
    by_time = sum(
        1
        for j in log.jobs.values()
        if j["start"] is not None and call.t0_ms - 1 <= j["start"] <= call.t1_ms + 1
    )
    sums = dict.fromkeys(_TASK_KEYS, 0.0)
    for sid, acc in log.tasks.items():
        if log.stage_job.get(sid) in job_ids:
            for k in _TASK_KEYS:
                sums[k] += acc[k]
    active = _union_s(
        [
            (log.jobs[j]["start"], log.jobs[j]["end"])
            for j in job_ids
            if j in log.jobs and log.jobs[j]["end"] is not None
        ]
    )
    return {
        "wall_s": call.wall_s,
        "jobs": call.job1 - call.job0,
        "jobs_by_start_time": by_time,
        "stages": call.stage1 - call.stage0,
        **sums,
        "job_active_s": active,
        "between_jobs_s": max(call.wall_s - active, 0.0),
        "cpu_util": sums["executor_cpu_s"] / max(call.wall_s * cores, 1e-9),
        "files_written": call.files_written,
        "bytes_written": call.bytes_written,
    }


_ILLEGAL = re.compile(r"[^A-Za-z0-9_.-]+")


def metric_name(*parts: str) -> str:
    """Join parts with '.' after mapping each to the legal metric alphabet
    (``weekly+monthly`` -> ``weekly_monthly``)."""
    return ".".join(_ILLEGAL.sub("_", p).strip("_") for p in parts)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size of the Spark JVM (``VmHWM``), in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
