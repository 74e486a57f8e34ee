"""In-memory span tracer for the traced benchmark run.

Spans are recorded around public functions of the engine by wrapping
them from the benchmark's own files; nothing under ``hpaste_spark/``
changes.  A span has a name, start, end, parent span and op id.  A
layer's self time is its span minus its child spans (children of one
op run sequentially on the driver thread, so their durations add).
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import itertools
import json
import time

from py4j.protocol import Py4JJavaError


@dataclasses.dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        span_id = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.perf_counter()
        self.bookkeeping_s += start - b0
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(span_id, name, start, end, parent, self.op_id))
            self.bookkeeping_s += time.perf_counter() - end

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned twin (undone by
        :meth:`unwrap_all`)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_seconds(self) -> dict[int, float]:
        """span id → own duration minus its children's."""
        out = {s.span_id: s.seconds for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.seconds
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")


def spark_job_stats(sc, group: str) -> dict:
    """Jobs, stages and tasks run under one job group, plus executor
    time and shuffle bytes from the status store (available with the
    UI disabled)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_ms": 0,
           "executor_cpu_ms": 0.0, "gc_ms": 0, "shuffle_bytes": 0}
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage evicted or never attempted
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_run_ms"] += sd.executorRunTime()
        out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        out["gc_ms"] += sd.jvmGcTime()
        out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
    return out
