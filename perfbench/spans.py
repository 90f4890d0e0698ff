"""Spans around calls into the program, and Spark's event log joined to them.

A traced run tags every Spark job a span launches with the span's own
job group (``setJobGroup``), keeps the spans in memory, and after the
session stops parses the uncompressed event log to attribute job time,
executor time, shuffle and spill to each span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.stats import clip, median, union_length


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the event log's clock
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    group: str = ""
    spark_jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``sc`` is given; otherwise every span is a
    no-op, so untraced runs pay nothing but a function call."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: seconds spent tagging jobs and counting them, inside spans
        self.bookkeeping_s = 0.0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if self.sc is None:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        sp = Span(
            name,
            time.time(),
            parent=self._stack[-1] if self._stack else None,
            op_id=op_id,
            group=f"pb-{sid}",
        )
        self.spans.append(sp)
        self._stack.append(sid)
        self.sc.setJobGroup(sp.group, name)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            sp.spark_jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.group))
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setJobGroup("", "")
            self.bookkeeping_s += time.perf_counter() - t0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        """The spans as JSON, each with its self time (``self_s``)."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": t} for s, t in zip(self.spans, own)], f)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.seconds - union_length(clip(children.get(i, []), s.start, s.end))
        for i, s in enumerate(spans)
    ]


# --- event log ---------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)
    #: micro-batch id for jobs a streaming query launched, else ""
    batch_id: str = ""
    run_ms: int = 0  # summed executor run time
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # disk bytes spilled
    #: stage id -> task durations (ms)
    task_ms: dict[int, list[int]] = field(default_factory=dict)


def event_log_files(log_dir: str) -> list[str]:
    """The event files Spark wrote under ``log_dir``, in write order
    (the rolling ``eventlog_v2_*/events_<n>_*`` layout)."""
    rolled = []
    for f in glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")):
        rolled.append((int(os.path.basename(f).split("_")[1]), f))
    return [f for _, f in sorted(rolled)]


def parse_events(lines) -> dict[int, Job]:
    """Jobs with their task metrics folded in, from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(
                e["Job ID"],
                props.get("spark.jobGroup.id") or "",
                e["Submission Time"],
                stages=list(e.get("Stage IDs", [])),
                batch_id=props.get("streaming.sql.batchId") or "",
            )
            jobs[job.job_id] = job
            for sid in job.stages:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"], -1))
            tm = e.get("Task Metrics")
            if job is None or not tm:
                continue
            info = e["Task Info"]
            job.run_ms += tm["Executor Run Time"]
            job.cpu_ns += tm["Executor CPU Time"]
            job.gc_ms += tm["JVM GC Time"]
            job.spill_bytes += tm["Disk Bytes Spilled"]
            job.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            job.task_ms.setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"]
            )
    return jobs


def read_event_log(log_dir: str) -> dict[int, Job]:
    def lines():
        for f in event_log_files(log_dir):
            with open(f) as fh:
                yield from fh

    return parse_events(lines())


class JobIndex:
    """Event-log jobs grouped by job group, for joining to spans."""

    def __init__(self, jobs: dict[int, Job]):
        self.by_group: dict[str, list[Job]] = {}
        for j in jobs.values():
            self.by_group.setdefault(j.group, []).append(j)

    def of(self, spans: list[Span]) -> list[Job]:
        return [j for s in spans for j in self.by_group.get(s.group, [])]

    @staticmethod
    def busy_s(jobs: list[Job], lo: float | None = None, hi: float | None = None) -> float:
        """Seconds covered by the union of the jobs' [submit, end]
        intervals, optionally clipped to [lo, hi] (epoch seconds)."""
        iv = [(j.submit_ms / 1000.0, (j.end_ms or j.submit_ms) / 1000.0) for j in jobs]
        if lo is not None:
            iv = clip(iv, lo, hi)
        return union_length(iv)


def max_task_skew(jobs: list[Job]) -> float:
    """Largest ratio of a stage's slowest task to its median task, over
    stages with at least two tasks (1.0 when there are none)."""
    worst = 1.0
    for j in jobs:
        for durs in j.task_ms.values():
            if len(durs) >= 2:
                worst = max(worst, max(durs) / max(1.0, median(durs)))
    return worst
