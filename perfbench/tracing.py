"""Spans around calls into the engine, and Spark's event log read back.

The benchmark edits no engine file: in a traced run it replaces the
engine's public entry points with wrappers from this module
(:meth:`Tracer.wrap`). Each wrapper opens a span, names the Spark job
group after it, calls the original and closes the span, so every Spark
job the call submits carries the span's id. After the session stops,
:func:`read_event_log` parses the uncompressed event log with stdlib
``json`` and :class:`SpanIndex` joins jobs to spans.

Spans are kept in memory and handed over when the run ends. Times are
``time.time()`` seconds, the clock Spark stamps its events with.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans and tags Spark jobs with the innermost one.

    ``sc`` is the SparkContext whose job group follows the span stack;
    None records spans only. While ``active`` is False the wrappers call
    straight through.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = True
        self._stack: list[Span] = []
        self._seq = 0
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.active:
            yield None
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{name}#{self._seq}", name, parent.id if parent else None, time.time(), attrs=attrs)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(s)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty(JOB_GROUP, None)
        else:
            self.sc.setJobGroup(s.id, s.name)

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str | Callable[..., str],
        measure: Callable[..., Callable[[], dict]] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a spanned call. ``name`` may be a
        function of the call's arguments (e.g. to name a span after the
        edge label being written). ``measure``, called with the same
        arguments before the call, returns a function whose dict is
        added to the span's attributes after it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            span_name = name(*args, **kwargs) if callable(name) else name
            with self.span(span_name) as s:
                after = measure(*args, **kwargs) if measure else None
                result = orig(*args, **kwargs)
                if after is not None:
                    s.attrs.update(after())
                return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        """Put every wrapped attribute back."""
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


@dataclass
class JobRecord:
    id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    records_read: int = 0

    @property
    def interval(self) -> tuple[float, float]:
        end = self.end_ms if self.end_ms is not None else self.start_ms
        return self.start_ms / 1000.0, end / 1000.0


def read_event_log(path: str) -> dict[int, JobRecord]:
    """Jobs of one application with their group and summed task
    metrics. Tasks count towards the first job that lists their stage."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = JobRecord(e["Job ID"], props.get(JOB_GROUP), e["Submission Time"])
                jobs[job.id] = job
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"], -1))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.cpu_ns += m.get("Executor CPU Time", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                job.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return jobs


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SpanIndex:
    """Spans joined with the jobs whose group names them."""

    def __init__(self, spans: list[Span], jobs: dict[int, JobRecord]):
        self.spans = {s.id: s for s in spans}
        self.children: dict[str, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        self.own_jobs: dict[str, list[JobRecord]] = defaultdict(list)
        for j in jobs.values():
            if j.group in self.spans:
                self.own_jobs[j.group].append(j)

    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans.values() if s.name == name and s.start >= since]

    def self_time(self, s: Span) -> float:
        return s.duration - sum(c.duration for c in self.children[s.id])

    def driver_time(self, s: Span) -> float:
        """Self time that none of the span's own jobs covered."""
        busy = covered([j.interval for j in self.own_jobs[s.id]], s.start, s.end)
        return max(0.0, self.self_time(s) - busy)

    def descendants(self, s: Span) -> Iterator[Span]:
        for c in self.children[s.id]:
            yield c
            yield from self.descendants(c)

    def subtree_jobs(self, s: Span) -> list[JobRecord]:
        out = list(self.own_jobs[s.id])
        for d in self.descendants(s):
            out.extend(self.own_jobs[d.id])
        return out
