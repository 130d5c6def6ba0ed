"""In-memory span recorder for the traced run.

Spans are recorded from outside the program: ``instrument`` replaces every
public function of the named modules with a wrapper at runtime (and every
``from module import name`` binding of it in the package, so function-local
imports inside the query modules resolve to the wrapper too).  No program
file is edited.

Each span holds name, start, end, parent, op id, and the Spark job / stage
/ task / failed-task counts of the jobs submitted while it was the
innermost open span: entering a span makes its id the SparkContext job
group, and leaving it reads that group back from ``statusTracker()``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "social_warner_spark"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    result: int | None = None  # len() or int value of what the call returned
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)


class Recorder:
    """Holds every span until the run ends; off until ``enabled`` is set."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.op: int | None = None
        self.sc = None
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{span.sid}", span.name)

    def _count_jobs(self, span: Span) -> None:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(f"span-{span.sid}"):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            span.jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is not None:
                    span.stages += 1
                    span.tasks += st.numTasks
                    span.failed_tasks += st.numFailedTasks

    def begin(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        self._next += 1
        span = Span(self._next, name, parent.sid if parent else None, self.op,
                    time.perf_counter())
        if parent is not None:
            parent.children.append(span)
        stack.append(span)
        self.spans.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if self.sc is not None:
            self._count_jobs(span)
        self._set_group(stack[-1] if stack else None)

    def span(self, name: str):
        return _SpanContext(self, name)


class _SpanContext:
    def __init__(self, rec: Recorder, name: str):
        self.rec, self.name, self.span = rec, name, None

    def __enter__(self):
        if self.rec.enabled:
            self.span = self.rec.begin(self.name)
        return self.span

    def __exit__(self, *exc):
        if self.span is not None:
            self.rec.end(self.span)
        return False


RECORDER = Recorder()


def _wrap(fn, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        rec = RECORDER
        if not rec.enabled:
            return fn(*args, **kwargs)
        span = rec.begin(name)
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, bool):
                pass
            elif isinstance(out, int):
                span.result = out
            elif isinstance(out, (list, tuple)):
                span.result = len(out)
            return out
        finally:
            rec.end(span)

    traced.__wrapped_by_perfbench__ = True
    return traced


def instrument(modules: dict[str, str]) -> int:
    """Wrap the public functions of each ``{span prefix: module}``; returns
    how many functions were wrapped."""
    swaps: dict[int, object] = {}
    for prefix, mod_name in modules.items():
        mod = importlib.import_module(mod_name)
        for name, obj in list(vars(mod).items()):
            if (name.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != mod_name
                    or getattr(obj, "__wrapped_by_perfbench__", False)):
                continue
            wrapped = _wrap(obj, f"{prefix}.{name}")
            setattr(mod, name, wrapped)
            swaps[id(obj)] = wrapped
    # rebind `from x import name` copies held by other package modules
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in swaps and inspect.isfunction(obj):
                setattr(mod, name, swaps[id(obj)])
    return len(swaps)
