"""Benchmark-side tracing: one Spark job group per operation, statusTracker
counts, a driver filesystem-listing counter, and the join of those
operations to Spark's event log.

Everything here wraps calls into the engine from outside; nothing inside
alexandria_spark is instrumented.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class FsCounter:
    """Counts the driver's top-level ``os.walk`` / ``os.scandir`` /
    ``os.listdir`` calls made by the thread of the operation being counted.
    A walk counts once, not once per directory it visits."""

    _NAMES = ("walk", "scandir", "listdir")

    def __init__(self):
        self._tls = threading.local()
        self._orig: dict = {}

    def install(self) -> None:
        for name in self._NAMES:
            orig = getattr(os, name)
            self._orig[name] = orig
            setattr(os, name, self._wrap_walk(orig) if name == "walk"
                    else self._wrap(orig))

    def uninstall(self) -> None:
        for name, orig in self._orig.items():
            setattr(os, name, orig)
        self._orig.clear()

    def begin(self) -> None:
        self._tls.count = 0
        self._tls.depth = 0

    def end(self) -> int:
        n = getattr(self._tls, "count", 0)
        self._tls.count = None
        return n

    def _enter(self) -> None:
        tls = self._tls
        if getattr(tls, "count", None) is not None and not getattr(tls, "depth", 0):
            tls.count += 1
        tls.depth = getattr(tls, "depth", 0) + 1

    def _leave(self) -> None:
        self._tls.depth -= 1

    def _wrap(self, fn):
        def counted(*args, **kwargs):
            self._enter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._leave()
        return counted

    def _wrap_walk(self, fn):
        def counted_walk(*args, **kwargs):
            self._enter()
            try:
                yield from fn(*args, **kwargs)
            finally:
                self._leave()
        return counted_walk


@dataclass
class OpRecord:
    """One traced call into a layer."""
    kind: str                  # query | build | derive | delete | ...
    name: str                  # entry point or layer operation
    group: str | None
    t0_ms: float = 0.0         # epoch ms, the event log's clock
    t1_ms: float = 0.0
    fs_calls: int = 0
    jobs: int = 0              # statusTracker: jobs in the op's group
    extra: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return self.t1_ms - self.t0_ms


class Tracer:
    """Opens one job group per operation on the calling thread and closes
    it afterwards, so no later job is attributed to a finished op. With
    ``enabled`` False every op is a plain timer and nothing is recorded."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.fs = FsCounter() if enabled else None
        self.records: list[OpRecord] = []
        self._lock = threading.Lock()
        self._seq = 0
        if self.fs is not None:
            self.fs.install()

    def close(self) -> None:
        if self.fs is not None:
            self.fs.uninstall()

    @contextmanager
    def op(self, kind: str, name: str, traced: bool = True):
        if not (self.enabled and traced):
            yield None
            return
        with self._lock:
            self._seq += 1
            gid = f"perfbench-{self._seq}"
        rec = OpRecord(kind, name, gid)
        self.sc.setJobGroup(gid, f"{kind}:{name}")
        self.fs.begin()
        rec.t0_ms = time.time() * 1000.0
        try:
            yield rec
        finally:
            rec.t1_ms = time.time() * 1000.0
            rec.fs_calls = self.fs.end()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec.jobs = len(self.sc.statusTracker().getJobIdsForGroup(gid))
            with self._lock:
                self.records.append(rec)


# ------------------------------------------------------------- event log

_PY_RUN = "time to run Python workers"


@dataclass
class JobStats:
    group: str | None
    submit_ms: float
    end_ms: float = 0.0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    python_ms: float = 0.0
    result_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0


def read_event_log(log_dir: str) -> dict[int, JobStats]:
    """Per-job stats from an uncompressed event log under ``log_dir``."""
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith("appstatus"))
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    j = JobStats(e.get("Properties", {}).get("spark.jobGroup.id"),
                                 float(e["Submission Time"]))
                    jobs[e["Job ID"]] = j
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end_ms = float(e["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(e["Stage ID"])
                    if jid is None:
                        continue
                    _add_task(jobs[jid], e)
    return jobs


def _add_task(j: JobStats, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    j.tasks += 1
    j.run_ms += m.get("Executor Run Time", 0)
    j.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    j.gc_ms += m.get("JVM GC Time", 0)
    j.result_bytes += m.get("Result Size", 0)
    w = m.get("Shuffle Write Metrics") or {}
    r = m.get("Shuffle Read Metrics") or {}
    j.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
    j.shuffle_read_bytes += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    for acc in e["Task Info"].get("Accumulables", ()):
        # only the run metric: the start/initialize metrics overlap it and
        # their sum can exceed the task's wall time
        if acc.get("Name") == _PY_RUN:
            j.python_ms += float(acc.get("Update", 0))  # milliseconds


def _union_ms(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def join_ops(records: list[OpRecord], jobs: dict[int, JobStats],
             serial: bool) -> list[dict]:
    """Attach each op's Spark jobs and their task totals.

    Jobs carry the op's group. On a serial workload a job from a group the
    benchmark did not open (a streaming query's micro-batch runs under the
    stream's own group) goes to the op whose window holds its submission.
    ``job_ms`` is the time covered by the op's jobs as the event log records
    them; ``driver_ms`` is the op's wall time covered by none of them, so
    job_ms + driver_ms exceeds the wall time only when a job of the op ran
    outside its window."""
    by_group: dict[str, list[JobStats]] = {}
    foreign = []
    for j in jobs.values():
        if j.group and j.group.startswith("perfbench-"):
            by_group.setdefault(j.group, []).append(j)
        else:
            foreign.append(j)
    out = []
    for rec in records:
        mine = list(by_group.get(rec.group, ()))
        if serial:
            mine += [j for j in foreign if rec.t0_ms <= j.submit_ms <= rec.t1_ms]
        clipped = [(max(j.submit_ms, rec.t0_ms), min(j.end_ms or rec.t1_ms, rec.t1_ms))
                   for j in mine]
        covered = _union_ms([c for c in clipped if c[1] > c[0]])
        out.append({
            "kind": rec.kind, "name": rec.name, "wall_ms": rec.wall_ms,
            "jobs": len(mine), "tracker_jobs": rec.jobs,
            "job_ms": _union_ms([(j.submit_ms, j.end_ms or rec.t1_ms) for j in mine]),
            "driver_ms": rec.wall_ms - covered,
            "tasks": sum(j.tasks for j in mine),
            "exec_run_ms": sum(j.run_ms for j in mine),
            "exec_cpu_ms": sum(j.cpu_ms for j in mine),
            "gc_ms": sum(j.gc_ms for j in mine),
            "python_ms": sum(j.python_ms for j in mine),
            "result_kb": sum(j.result_bytes for j in mine) / 1024.0,
            "shuffle_write_kb": sum(j.shuffle_write_bytes for j in mine) / 1024.0,
            "shuffle_read_kb": sum(j.shuffle_read_bytes for j in mine) / 1024.0,
            "fs_calls": rec.fs_calls,
            **rec.extra,
        })
    return out
