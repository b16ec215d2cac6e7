"""Spans for the traced run, kept in memory and written out at the end.

A span is (id, layer, name, start, end, parent, run); times are epoch
seconds so they line up with Spark's job times, progress timestamps and
file modification times. The benchmark records spans only from its own
code, around its calls into each layer of the program.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

from perfbench.common import progress_ms, progress_start_s, union_ms

# Progress phases in the order a micro-batch runs them.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, run: str):
        self.run = run
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> Span:
        with self._lock:
            span = Span(next(self._ids), layer, name, start, end, parent, self.run, attrs)
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        """Time a block; spans opened inside it on the same thread
        become its children."""
        stack = self._stack.__dict__.setdefault("ids", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, layer, name, start, time.time(), parent, self.run, attrs))

    def wrap(self, fn, layer: str, name: str):
        def traced(*args):
            with self.span(layer, name, epoch=args[-1] if args else None):
                return fn(*args)

        return traced

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))

    def sub(self, run: str) -> Tracer:
        """A tracer for another run that records into the same span
        list, with ids unique across both."""
        t = Tracer(run)
        t.spans, t._ids, t._lock = self.spans, self._ids, self._lock
        return t

    def of(self, layer: str, name: str | None = None) -> list[Span]:
        """This run's spans of a layer (and name)."""
        return [s for s in self.spans
                if s.run == self.run and s.layer == layer and (name is None or s.name == name)]


def self_times_ms(spans: list[Span]) -> dict[str, float]:
    """Per layer: the sum over its spans of duration minus the part of
    that interval covered by the span's children."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_ms(
            (max(c.start, s.start) * 1e3, min(c.end, s.end) * 1e3)
            for c in kids[s.id]
            if c.end > s.start and c.start < s.end
        )
        out[s.layer] += s.ms - covered
    return dict(out)


class TracedMulticast:
    """Times each Multicast.__call__ and, inside it, each sink fn."""

    def __init__(self, fan, tracer: Tracer):
        self.fan = fan
        self.tracer = tracer
        for name, fn in list(fan.sinks.items()):
            fan.sinks[name] = tracer.wrap(fn, "sinks.file", "write")

    def __call__(self, batch, epoch_id: int) -> None:
        with self.tracer.span("sinks.multicast", "call", epoch=epoch_id):
            self.fan(batch, epoch_id)


def trace_pipeline(pipeline, tracer: Tracer):
    """Route a Pipeline's foreachBatch through TracedMulticast."""
    compose = pipeline.compose

    def traced_compose(source_df):
        df, fan = compose(source_df)
        return df, TracedMulticast(fan, tracer)

    pipeline.compose = traced_compose
    return pipeline


def add_batch_spans(tracer: Tracer, progress: list, query: str) -> None:
    """One engine span per micro-batch (progress timestamp plus
    triggerExecution) with its durationMs phases as children, laid out
    in run order; sink calls of that epoch hang under addBatch."""
    calls = defaultdict(list)
    for s in tracer.of("sinks.multicast", "call"):
        calls[s.attrs.get("epoch")].append(s)
    for p in progress:
        t0 = progress_start_s(p)
        batch = tracer.add("engine", "batch", t0, t0 + progress_ms(p, "triggerExecution") / 1e3,
                           query=query, batch=p.batchId, rows=p.numInputRows)
        t = t0
        for phase in BATCH_PHASES:
            d = progress_ms(p, phase) / 1e3
            span = tracer.add("engine", phase, t, t + d, batch.id, batch=p.batchId)
            if phase == "addBatch":
                for c in calls.get(p.batchId, ()):
                    if c.parent is None:
                        c.parent = span.id
            t += d


def add_job_spans(tracer: Tracer, jobs, parents: list[Span]) -> None:
    """Spark jobs as children of the innermost parent span that holds
    their submission time."""
    for j in jobs:
        t = j.start_ms / 1e3
        holders = [p for p in parents if p.start <= t <= p.end]
        parent = min(holders, key=lambda p: p.end - p.start).id if holders else None
        tracer.add("spark", "job", t, j.end_ms / 1e3, parent, job=j.job_id)
