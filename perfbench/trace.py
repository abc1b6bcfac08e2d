"""Measurement helpers: spans, percentiles, process memory and Spark's
public monitoring surfaces (status tracker, event log, storage info).

Nothing here reaches into the package under test; every number is taken
at the boundary of a public call or read from an API Spark documents.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median  # noqa: F401 (re-exported)


# ---------------------------------------------------------------- percentiles

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n: int, q: float) -> int:
    """Samples that lie strictly above the nearest-rank ``q`` percentile
    of ``n`` samples."""
    return n - max(1, math.ceil(q / 100.0 * n))




# ---------------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    ref: str = ""  # shared id: query name or batch id
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; spans are written out once, at the end.
    Spans are recorded in every run (a few per query); Spark counters and
    the event log are read only in traced runs."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, ref: str = "") -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, ref=ref))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, sid: int, **counts) -> float:
        if not self._stack or self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} closed out of order")
        self._stack.pop()
        span = self.spans[sid]
        span.end = time.time()
        span.counts.update(counts)
        return span.end - span.start

    @contextmanager
    def span(self, name: str, ref: str = ""):
        sid = self.open(name, ref)
        try:
            yield sid
        finally:
            self.close(sid)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([
                {"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "ref": s.ref, "self_s": selfs[i],
                 **({"counts": s.counts} if s.counts else {})}
                for i, s in enumerate(self.spans)
            ], f, indent=1)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    children cover (overlapping children are merged first)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


# --------------------------------------------------------------------- memory

def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings: a shared host's interference, beside the
    timings it distorts."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ------------------------------------------------------- Spark public surfaces

def group_jobs(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of one job group, from the status
    tracker.  Stage info is kept for ``spark.ui.retainedStages`` stages;
    read it right after the group's work."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return len(jobs), tasks, failed


def retained_storage_mb(sc) -> float:
    """Memory plus disk held by persisted and checkpointed RDD blocks."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


@dataclass
class TaskTotals:
    jobs: int = 0
    tasks: int = 0
    failed: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def parse_event_log(log_dir: str, app_id: str) -> list[tuple]:
    """Task totals per job of one application's (uncompressed) event log
    under ``log_dir``, as [(submit_ms, job group, description,
    TaskTotals)] in job order."""
    logs = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not logs:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev.get("Submission Time", 0),
                             "group": props.get("spark.jobGroup.id"),
                             "desc": props.get("spark.job.description", ""),
                             "totals": TaskTotals(jobs=1)}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                t = jobs[jid]["totals"]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                t.tasks += 1
                t.failed += 1 if info.get("Failed") else 0
                t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                t.run_s += m.get("Executor Run Time", 0) / 1e3
                t.gc_s += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                t.shuffle_mb += (rd.get("Remote Bytes Read", 0)
                                 + rd.get("Local Bytes Read", 0)
                                 + wr.get("Shuffle Bytes Written", 0)) / 2**20
                t.spill_mb += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0)) / 2**20
    return [(j["submit"], j["group"], j["desc"], j["totals"])
            for _, j in sorted(jobs.items())]
