"""Spans recorded around the benchmark's calls into each layer, and the
reduction of Spark's event log to per-span task metrics.

A span is a wall-clock interval with a name; while it is open, every Spark
job the calling thread submits carries the span's id as its job group. The
uncompressed event log then attributes each job, stage and task to the
span that caused it (``reduce_event_log``). Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: job group of jobs submitted outside any span (the report server's
#: handler threads in this benchmark)
UNGROUPED = ""


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: str | None
    #: False when the call inside the span raised
    ok: bool = True


class Tracer:
    """Records spans; with ``spark`` set, tags jobs with the span id."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._n = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        with self._lock:
            self._n += 1
            sid = f"{name}#{self._n}"
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", sid)
        stack.append(sid)
        start = time.perf_counter()
        ok = False
        try:
            yield sid
            ok = True
        finally:
            end = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", parent)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, ok))

    def walls(self, name: str) -> list[float]:
        """Wall times of the spans called ``name`` whose call succeeded."""
        return [s.end - s.start for s in self.spans if s.name == name and s.ok]

    def ids(self, name: str) -> list[str]:
        """Ids of the spans called ``name`` whose call succeeded."""
        return [s.id for s in self.spans if s.name == name and s.ok]

    def subtree(self, sid: str) -> list[str]:
        """``sid`` and the ids of every span nested under it."""
        out = [sid]
        frontier = [sid]
        while frontier:
            kids = [s.id for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = kids
        return out

    def dump(self, path: str, groups: dict[str, dict]) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [asdict(s) for s in self.spans],
                "groups": groups,
            }, f, indent=1, sort_keys=True)


@dataclass
class GroupMetrics:
    """Task metrics summed over every job of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    #: summed time tasks waited between their stage's submission and
    #: their own launch (waiting for a free core)
    task_wait_s: float = 0.0
    #: per job: (submission, first task launch minus submission), both on
    #: the ``time.monotonic()`` clock in seconds and in ms
    job_queue_ms: list[tuple[float, float]] = field(default_factory=list)


def reduce_event_log(path: str, clock_offset: float = 0.0) -> dict[str, GroupMetrics]:
    """Job group → summed task metrics, from an uncompressed event log.

    Jobs outside any group land under :data:`UNGROUPED`. Event-log times
    are epoch milliseconds; ``clock_offset`` (``time.monotonic() -
    time.time()``) moves job submission times onto the monotonic clock. A
    stage belongs
    to the first job that lists it; stages a job skips (their shuffle
    output already exists) run no tasks and are not counted.
    """
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    stage_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_submit: dict[int, int] = {}
    job_first_launch: dict[int, int] = {}
    job_group: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or UNGROUPED
                jid = e["Job ID"]
                job_group[jid] = g
                job_submit[jid] = e["Submission Time"]
                groups[g].jobs += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_submit[key] = info["Submission Time"]
                groups[stage_group.get(info["Stage ID"], UNGROUPED)].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                m = groups[stage_group.get(sid, UNGROUPED)]
                info = e["Task Info"]
                tm = e.get("Task Metrics") or {}
                m.tasks += 1
                if info.get("Failed") or info.get("Killed"):
                    m.failed_tasks += 1
                launch = info["Launch Time"]
                submitted = stage_submit.get((sid, e["Stage Attempt ID"]), launch)
                m.task_wait_s += max(0, launch - submitted) / 1000.0
                jid = stage_job.get(sid)
                if jid is not None:
                    job_first_launch[jid] = min(
                        launch, job_first_launch.get(jid, launch))
                m.executor_run_s += tm.get("Executor Run Time", 0) / 1000.0
                m.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                m.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                m.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                rd = tm.get("Shuffle Read Metrics") or {}
                m.shuffle_read_bytes += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0))
                wr = tm.get("Shuffle Write Metrics") or {}
                m.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
                m.shuffle_write_records += wr.get("Shuffle Records Written", 0)
                m.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    for jid, launch in sorted(job_first_launch.items()):
        groups[job_group[jid]].job_queue_ms.append(
            (job_submit[jid] / 1000.0 + clock_offset, float(launch - job_submit[jid])))
    return dict(groups)


def total(groups: dict[str, GroupMetrics], ids: list[str]) -> GroupMetrics:
    """Sum of the metrics of the given job groups."""
    out = GroupMetrics()
    for g in ids:
        m = groups.get(g)
        if m is None:
            continue
        for k, v in asdict(m).items():
            if k == "job_queue_ms":
                out.job_queue_ms.extend(v)
            else:
                setattr(out, k, getattr(out, k) + v)
    return out
