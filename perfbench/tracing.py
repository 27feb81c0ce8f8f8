"""Spans around the benchmark's calls into each layer, folded with
Spark's event log into per-layer metrics.

A span has a name, start, end, parent and op id, and sets a Spark job
group while it is open, so every job submitted from the benchmark's
thread carries the span's group. Jobs from threads that do not inherit
the group (the sink's member writers, the pipeline's warm thread) are
given to the innermost span whose time window covers the job's
submission. Spans stay in memory; :func:`fold` reads the event log once
the SparkContext has stopped and the log is complete.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4 compresses and rolls the log by default; the fold reads one
    # file of plain JSON lines
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    group: str


class Tracer:
    """Opens spans; ``overhead_s`` is the time spent in its own
    bookkeeping (the job-group calls into the JVM at every span's start
    and end)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0,
                 parent.sid if parent else None, self.op, f"perfbench-{len(self.spans)}")
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t0 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t0


def dump(spans: list[Span], work: dict[int, "SpanWork"], out) -> None:
    """One line per span, in start order: op id, start offset and
    duration in seconds, name under its parent, and its own Spark work."""
    t0 = min(s.start for s in spans)
    names = {s.sid: s.name for s in spans}
    for s in sorted(spans, key=lambda s: s.start):
        w = work[s.sid]
        parent = names.get(s.parent, "-")
        print(f"span op={s.op} +{s.start - t0:8.3f}s {s.end - s.start:8.3f}s {s.name:<40}"
              f" parent={parent:<12} jobs={w.jobs} tasks={w.tasks} task_s={w.task_s:.3f}",
              file=out)


@dataclass
class StageStats:
    durations: list[float] = field(default_factory=list)  # task wall, s
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class JobStats:
    submit: float
    group: str | None
    callsite: str
    stage_ids: list[int]


@dataclass
class SpanWork:
    """Spark work attributed to one span (its own jobs only)."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    skew: float = 0.0  # max over stages of max/median task time
    callsites: list[str] = field(default_factory=list)  # one per job

    def add(self, o: "SpanWork") -> "SpanWork":
        return SpanWork(
            self.jobs + o.jobs, self.stages + o.stages, self.tasks + o.tasks,
            self.task_s + o.task_s, self.gc_s + o.gc_s,
            self.shuffle_read + o.shuffle_read, self.shuffle_write + o.shuffle_write,
            self.spill + o.spill, max(self.skew, o.skew), self.callsites + o.callsites,
        )


def stage_skew(durations: list[float]) -> float:
    """max/median task time of one stage; 1.0 for stages under 2 tasks."""
    if len(durations) < 2:
        return 1.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def _read_events(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


def fold(log_dir: str, spans: list[Span]) -> dict[int, SpanWork]:
    """Attribute every job in the event log to a span → {span id: work}."""
    by_group = {s.group: s for s in spans}
    jobs: list[JobStats] = []
    stages: dict[int, StageStats] = {}
    for ev in _read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs.append(JobStats(
                ev["Submission Time"] / 1000.0, props.get("spark.jobGroup.id"),
                props.get("callSite.short") or "", ev["Stage IDs"],
            ))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], StageStats())
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            st.durations.append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
            st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            rd = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)

    out = {s.sid: SpanWork() for s in spans}
    claimed: set[int] = set()  # a stage reused by a later job ran once
    for j in jobs:
        owner = by_group.get(j.group)
        if owner is None:
            # a thread without the group: innermost span open at submission
            covering = [s for s in spans if s.start <= j.submit <= s.end]
            if not covering:
                continue
            owner = max(covering, key=lambda s: s.start)
        w = out[owner.sid]
        w.jobs += 1
        w.callsites.append(j.callsite)
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is None or not st.durations or sid in claimed:
                continue  # skipped: its shuffle output was reused
            claimed.add(sid)
            w.stages += 1
            w.tasks += len(st.durations)
            w.task_s += sum(st.durations)
            w.gc_s += st.gc_s
            w.shuffle_read += st.shuffle_read
            w.shuffle_write += st.shuffle_write
            w.spill += st.spill
            w.skew = max(w.skew, stage_skew(st.durations))
    return out


def inclusive(work: dict[int, SpanWork], spans: list[Span], root: Span) -> SpanWork:
    """Work of ``root`` and every span nested under it."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    total, todo = SpanWork(), [root]
    while todo:
        s = todo.pop()
        total = total.add(work[s.sid])
        todo.extend(children.get(s.sid, []))
    return total
