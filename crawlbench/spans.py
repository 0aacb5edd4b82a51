"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent and run id. Each span gets its own
Spark job group, so the jobs (and their stages) that ran while the span was
the innermost open one are counted through ``statusTracker`` when it closes.
Spans are written out once, at the end of the run.

Instrumentation wraps the program's public functions from outside: the
module attribute a caller looks up (``crawler_spark.plans.round.top_per_key``)
or the class method (``RoundCommit.stage_append``) is replaced by a wrapper
for the duration of a ``with Tracer.instrument(...)`` block and restored
afterwards. No program file is touched.

Laziness rule: a span is booked where its work materializes. A function
that only builds a lazy plan (``top_per_key``) gets a short build span; the
work runs inside whichever later span executes the plan (a sink write, the
dirty-bucket collect in the round body).
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``sc`` (a SparkContext) enables job/stage counting."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"{self.run_id}:{span.span_id}"

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else self._group(span)
        )
        self.sc.setLocalProperty(
            "spark.job.description", None if span is None else span.name
        )

    def _count_jobs(self, span: Span) -> None:
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(span)):
            span.jobs += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                span.stages += len(info.stageIds)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            parent=None if parent is None else parent.span_id,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._count_jobs(s)

    def wrap(self, fn, name):
        """``fn`` wrapped in a span; ``name`` is a string or a function of
        the call's arguments returning one."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def instrument(self, targets):
        """Patch ``(owner, attribute, span name)`` targets for the block."""
        saved = []
        try:
            for owner, attr, name in targets:
                original = getattr(owner, attr)
                saved.append((owner, attr, original))
                setattr(owner, attr, self.wrap(original, name))
            yield self
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)

    # -- queries over the finished trace -------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the time its direct children cover. Children of
        one span run one after another on one thread, so they never
        overlap and their durations add."""
        return span.dur - sum(c.dur for c in self.children(span))

    def jobs_total(self, span: Span) -> tuple[int, int]:
        """(jobs, stages) of the span and everything under it."""
        group = [span, *self.descendants(span)]
        return sum(s.jobs for s in group), sum(s.stages for s in group)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def check_nesting(self, span: Span, slack: float = 1e-6) -> bool:
        """Children lie inside the parent and do not overlap each other, so
        children plus self time add up to the parent's wall time."""
        kids = sorted(self.children(span), key=lambda s: s.start)
        inside = all(
            span.start - slack <= k.start and k.end <= span.end + slack
            for k in kids
        )
        disjoint = all(a.end <= b.start + slack for a, b in zip(kids, kids[1:]))
        return inside and disjoint

    def self_time_table(self) -> list[dict]:
        """Per span name: count, total and self seconds, jobs, stages."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(
                s.name, {"name": s.name, "n": 0, "total_s": 0.0, "self_s": 0.0,
                         "jobs": 0, "stages": 0, "durs": []}
            )
            r["n"] += 1
            r["total_s"] += s.dur
            r["self_s"] += self.self_time(s)
            r["jobs"] += s.jobs
            r["stages"] += s.stages
            r["durs"].append(s.dur)
        for r in rows.values():
            r["p50_s"] = statistics.median(r.pop("durs"))
        return sorted(rows.values(), key=lambda r: -r["self_s"])

    def to_json(self) -> list[dict]:
        return [
            {"id": s.span_id, "name": s.name, "parent": s.parent,
             "run_id": s.run_id, "start": s.start, "end": s.end,
             "jobs": s.jobs, "stages": s.stages}
            for s in self.spans
        ]
