"""Spans around calls into the engine's layers, recorded from outside.

``Tracer.wrap`` replaces a public function on its module (or a method on its
class) with a wrapper that opens a span for the duration of the call. Each
span sets its own Spark job group, so every job the call launches is tagged
with the span; when an op has finished, ``Tracer.collect`` reads each group's
jobs and stages from the SparkContext status store (which works with the UI
disabled). Spans are kept in memory and summarised when the run ends.

Nothing is read from the status store inside a span, so a span's duration
includes only the two ``setJobGroup`` calls the tracer makes at its edges;
their cost is itself timed and reported as ``trace.overhead_s_per_op``.
"""

from __future__ import annotations

import functools
import itertools
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

# Stage-level totals read for each job group.
COUNTERS = (
    "jobs",
    "tasks",
    "input_records",
    "input_bytes",
    "shuffle_bytes",
    "output_bytes",
    "executor_run_ms",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    op_id: int
    start: float
    end: float = 0.0
    group: str = ""
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and the Spark work tagged with each span's job group."""

    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._pending: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self.op_id = 0

    # --- span bookkeeping ---------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def enter(self, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(name, next(self._ids), parent, self.op_id, 0.0)
        span.group = f"perfbench-{span.span_id}"
        self._set_group(span)
        self._stack.append(span)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        return span

    def exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        self.spans.append(span)
        self._pending.append(span)
        self.overhead_s += time.perf_counter() - span.end

    def call(self, name: str, fn, *args, **kwargs):
        if self._stack and self._stack[-1].name == name:
            return fn(*args, **kwargs)  # a layer calling itself: one span
        span = self.enter(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.exit(span)

    # --- wrapping the layers' public functions ----------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unwrap``."""
        original = getattr(owner, attr)
        raw = owner.__dict__[attr] if isinstance(owner, type) else original

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, *args, **kwargs)

        self._restore.append((owner, attr, raw))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, raw in reversed(self._restore):
            setattr(owner, attr, raw)
        self._restore.clear()

    # --- reading the status store ------------------------------------------

    def collect(self) -> None:
        """Attach Spark counters to every span closed since the last call.

        Called between ops, outside any timed region."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for span in self._pending:
            span.counts = group_counters(store, tracker.getJobIdsForGroup(span.group))
        self._pending.clear()

    # --- queries over the recorded spans -----------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part covered by its direct children
        (children of one span never overlap: calls are sequential)."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def total_counts(self, span: Span) -> dict[str, int]:
        """Counters of the span and all of its descendants."""
        total = dict(span.counts)
        for child in self.children(span):
            for k, v in self.total_counts(child).items():
                total[k] = total.get(k, 0) + v
        return total


def group_counters(store, job_ids) -> dict[str, int]:
    out = dict.fromkeys(COUNTERS, 0)
    seen: set[int] = set()
    for job_id in job_ids:
        job = store.job(job_id)
        out["jobs"] += 1
        stages = job.stageIds().iterator()
        while stages.hasNext():
            sid = stages.next()
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numTasks()
            out["input_records"] += st.inputRecords()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["output_bytes"] += st.outputBytes()
            out["executor_run_ms"] += st.executorRunTime()
    return out
