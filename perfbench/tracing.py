"""In-memory spans that label Spark jobs with a job group.

A span records its name, its parent and its start and end; it sets the
SparkContext job group to its own path ("parent/child") on entry and puts the
parent's group back on exit, so every job Spark runs inside the span carries
the span's label in the event log. Spans stay in memory until the run ends.

A span's ``self_s`` is its wall time minus the time its children cover. Job
and task metrics from the event log belong to the innermost open span.

The wrappers below are applied from the benchmark around calls the program
makes; the program itself is not changed.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from perfbench import eventlog


@dataclass
class Span:
    name: str
    path: str
    parent: Span | None
    start: float
    end: float | None = None
    children: list[Span] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)


class Tracer:
    """Spans of one run. ``sc`` is a SparkContext, or None to keep the
    spans without labelling jobs."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def open(self, name: str) -> Span:
        parent = self.current
        path = f"{parent.path}/{name}" if parent else name
        span = Span(name, path, parent, self.clock())
        if parent:
            parent.children.append(span)
        self.spans.append(span)
        self._stack.append(span)
        self._label(path)
        return span

    def close(self, span: Span) -> None:
        if self.current is not span:
            raise RuntimeError(f"span {span.path} closed out of order")
        span.end = self.clock()
        self._stack.pop()
        self._label(self.current.path if self.current else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def _label(self, path: str | None) -> None:
        if self.sc is None:
            return
        if path is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(path, path)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def span_metrics(self, name: str, groups: dict) -> dict:
        """wall_s and self_s summed over the spans called ``name``, plus the
        event-log totals of the job groups those spans labelled."""
        out = dict.fromkeys(("wall_s", "self_s") + eventlog.FIELDS, 0)
        for s in self.by_name(name):
            out["wall_s"] += s.wall_s
            out["self_s"] += s.self_s
            for k, v in groups.get(s.path, {}).items():
                out[k] += v
        return out


@contextlib.contextmanager
def patched(obj, attr: str, wrapper):
    """Replace ``obj.attr`` with ``wrapper(original)`` for the block."""
    original = getattr(obj, attr)
    setattr(obj, attr, wrapper(original))
    try:
        yield
    finally:
        setattr(obj, attr, original)


@contextlib.contextmanager
def er_stage_spans(tracer: Tracer):
    """Spans over the batch pipeline's stages.

    A stage span opens when ``run_pipeline`` asks the checkpoint store
    whether the stage exists and closes when the stage's checkpoint write
    returns, so it covers every job the stage runs, including collects made
    before the write. ``connected_components`` gets its own ``cc`` span,
    nested in the ``clusters`` stage.
    """
    from fia_own_map_spark.plans import pipeline
    from fia_own_map_spark.sources.checkpoint import CheckpointStore

    open_stages: dict[str, Span] = {}

    def on_exists(orig):
        def exists(self, stage):
            if stage not in open_stages:
                open_stages[stage] = tracer.open(stage)
            return orig(self, stage)
        return exists

    def on_write(orig):
        def write(self, stage, *args, **kwargs):
            try:
                return orig(self, stage, *args, **kwargs)
            finally:
                span = open_stages.pop(stage, None)
                if span is not None:
                    tracer.close(span)
        return write

    def on_cc(orig):
        def connected_components(*args, **kwargs):
            with tracer.span("cc"):
                return orig(*args, **kwargs)
        return connected_components

    with (
        patched(CheckpointStore, "exists", on_exists),
        patched(CheckpointStore, "write", on_write),
        patched(pipeline, "connected_components", on_cc),
    ):
        try:
            yield
        finally:
            # a stage that failed before its write: close it so the
            # parent's label comes back
            while tracer.current is not None and tracer.current in open_stages.values():
                tracer.close(tracer.current)
