"""Benchmark-side timing, spans and the Spark event-log join.

The benchmark measures the program from outside: every timed call
into a public function goes through ``Recorder.call``. With tracing
on, each call also opens a span (name, start, end, parent span, run
id) and tags the Spark jobs it triggers with ``setJobGroup(span id)``,
so the event log written by ``spark.eventLog.enabled`` joins back to
spans after the run. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

# ---------------------------------------------------------------------------
# timing and spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Counts, times and (when ``sc`` is given) traces benchmark calls."""

    def __init__(self, run_id: str, sc: Any = None):
        self.run_id = run_id
        self.sc = sc
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.batches: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def traced(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span | None]:
        if not self.traced:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}.{len(self.spans)}", name, parent and parent.id,
                 self.run_id, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def step(self, name: str) -> Iterator[None]:
        """Time a block of calls as one ``name`` sample, when none failed."""
        failed, t = self.failed, time.perf_counter()
        yield
        if self.failed == failed:
            self.samples[name].append(time.perf_counter() - t)

    @contextmanager
    def batch(self) -> Iterator[None]:
        """Time the block as one batch sample (a day, a round of requests)."""
        t = time.perf_counter()
        yield
        self.batches.append(time.perf_counter() - t)

    def call(self, name: str, fn: Callable[..., Any], *args: Any, **kwargs: Any) -> Any:
        """One timed operation. An exception, or a job status with
        ``success: False``, counts as failed; its latency is not sampled."""
        self.attempted += 1
        with self.span(name):
            t = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                error = None
                if isinstance(out, dict) and out.get("success") is False:
                    error = f"{name}: {out.get('details')}"
            except Exception as e:  # noqa: BLE001 - counted and reported, not hidden
                out, error = None, f"{name}: {type(e).__name__}: {e}"
            elapsed = time.perf_counter() - t
        if error is not None:
            self.failed += 1
            self.errors.append(error[:500])
            return None
        self.samples[name].append(elapsed)
        return out


def read_request(rec: Recorder, name: str, make_df: Callable[[], Any],
                 attrs: dict[str, Any] | None = None) -> list | None:
    """A read: build the DataFrame (listing, analysis) and collect it.
    Traced, the two halves are separate calls under one request span."""
    if not rec.traced:
        return rec.call(name, lambda: make_df().collect())
    with rec.span(name, **(attrs or {})):
        df = rec.call("read.plan", make_df)
        return None if df is None else rec.call("read.exec", df.collect)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int | None = None


@dataclass
class Stage:
    group: str | None
    task_run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]


def parse_event_log(lines: Iterator[str] | list[str]) -> EventLog:
    """Jobs (group, submit/complete times) and per-stage task sums from
    a Spark JSON event log. Stages are attributed to the job group in
    force when they were submitted."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = Job(group, ev["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stages.setdefault(ev["Stage Info"]["Stage ID"], Stage(group))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = stages.setdefault(ev["Stage ID"], Stage(None))
            st.task_run_ms.append(m["Executor Run Time"])
            st.cpu_ns += m["Executor CPU Time"]
            st.gc_ms += m["JVM GC Time"]
            st.spill += m["Disk Bytes Spilled"]
            sr = m["Shuffle Read Metrics"]
            st.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            st.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            st.input_bytes += m["Input Metrics"]["Bytes Read"]
            st.output_bytes += m["Output Metrics"]["Bytes Written"]
    return EventLog(jobs, stages)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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
    return total


def subtree_ids(spans: list[Span]) -> dict[str, set[str]]:
    """span id -> ids of the span and all its descendants."""
    children: dict[str | None, list[str]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s.id)
    out: dict[str, set[str]] = {}

    def walk(sid: str) -> set[str]:
        ids = {sid}
        for c in children[sid]:
            ids |= walk(c)
        out[sid] = ids
        return ids

    for root in children[None]:
        walk(root)
    return out


@dataclass
class SpanSpark:
    """What the Spark jobs tagged with one span's subtree did."""
    jobs: int
    stages: int
    tasks: int
    driver_gap_s: float
    executor_run_s: float
    executor_cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    input_bytes: int
    output_bytes: int
    worst_skew: float | None  # max / median task run time of its worst stage


def span_spark(span: Span, ids: set[str], log: EventLog) -> SpanSpark:
    jobs = [j for j in log.jobs.values() if j.group in ids]
    stages = [s for s in log.stages.values() if s.group in ids]
    lo, hi = span.start * 1000, span.end * 1000
    busy_ms = union_seconds([
        (max(j.start_ms, lo), min(j.end_ms if j.end_ms is not None else hi, hi))
        for j in jobs
        if j.start_ms < hi
    ])
    skews = [max(s.task_run_ms) / statistics.median(s.task_run_ms)
             for s in stages if len(s.task_run_ms) >= 2 and statistics.median(s.task_run_ms) > 0]
    return SpanSpark(
        jobs=len(jobs),
        stages=len(stages),
        tasks=sum(len(s.task_run_ms) for s in stages),
        driver_gap_s=max(0.0, span.wall - busy_ms / 1000),
        executor_run_s=sum(sum(s.task_run_ms) for s in stages) / 1000,
        executor_cpu_s=sum(s.cpu_ns for s in stages) / 1e9,
        gc_s=sum(s.gc_ms for s in stages) / 1000,
        shuffle_write=sum(s.shuffle_write for s in stages),
        shuffle_read=sum(s.shuffle_read for s in stages),
        spill=sum(s.spill for s in stages),
        input_bytes=sum(s.input_bytes for s in stages),
        output_bytes=sum(s.output_bytes for s in stages),
        worst_skew=max(skews) if skews else None,
    )
