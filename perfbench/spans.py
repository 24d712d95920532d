"""Span tracing around the public calls of `datax_spark`, from outside.

`Tracer.wrap(obj, method, name)` replaces one bound method on ONE
instance (`table.merge = timed(table.merge)`). The engine resolves
`self.table.merge`, `self.table.current` and friends at call time, and
the table resolves `self.current()` the same way, so the inner calls
of `apply_batch` are caught without touching the program's code.

Each span records name, start, end, parent span, batch id and the
range of Spark job ids it started. Time the tracer itself spends while
a span is open (opening and closing children, the `after` hooks) is
charged to that span and its ancestors as `bk` and left out of their
durations. Job ids come from the DAG scheduler's job counter, which
is updated synchronously; stage and task counts are looked up through
`statusTracker` once, after the run, when the listener bus has caught
up. Spans stay in memory until `dump`.
"""

from __future__ import annotations

import functools
import json
import threading
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self.phase = "timed"  # or "setup"; per-batch metrics use timed spans only
        self.batch: str | None = None
        self.root: int | None = None  # parent for spans on threads with no open span
        self.bookkeeping_s = {"setup": 0.0, "timed": 0.0}  # tracer time per phase
        self._local = threading.local()
        self._lock = threading.Lock()

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _charge(self, span_id: int | None, dt: float) -> None:
        """Book tracer time `dt` against an open span and its ancestors."""
        self.bookkeeping_s[self.phase] += dt
        while span_id is not None:
            span = self.spans[span_id]
            span["bk"] = span.get("bk", 0.0) + dt
            span_id = span["parent"]

    def open(self, name: str, batch: str | None = None) -> dict | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        parent_batch = self.spans[parent]["batch"] if parent is not None else None
        span = {
            "name": name,
            "parent": parent,
            "batch": batch or parent_batch or self.batch,
            "phase": self.phase,
            "job_lo": self._next_job_id(),
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span["id"])
        t1 = time.perf_counter()
        self._charge(parent, t1 - t0)
        span["start"] = t1
        return span

    def close(self, span: dict | None) -> None:
        if span is None:
            return
        t0 = time.perf_counter()
        span["end"] = t0
        span["job_hi"] = self._next_job_id()
        self._stack().pop()
        self._charge(span["parent"], time.perf_counter() - t0)

    def wrap(self, obj, method: str, name: str, after=None) -> None:
        """Instance-level wrapper: obj.method now records a span `name`.
        `after(span, result, args, kwargs)` may attach counts to the span;
        its time is bookkeeping, not span time."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def timed(*args, **kwargs):
            span = self.open(name, batch=kwargs.get("batch_id"))
            try:
                result = inner(*args, **kwargs)
            finally:
                self.close(span)
            if span is not None and after is not None:
                t0 = time.perf_counter()
                self.enabled = False  # calls made by `after` are not spans
                try:
                    after(span, result, args, kwargs)
                finally:
                    self.enabled = True
                self._charge(span["parent"], time.perf_counter() - t0)
            return result

        setattr(obj, method, timed)

    def resolve_spark_counts(self) -> None:
        """Fill jobs/stages/tasks per span from statusTracker. Stages
        that were skipped (shuffle output reused) count as neither
        stages nor tasks: only stages with completed tasks do."""
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        st = self.sc.statusTracker()
        stage_tasks: dict[int, int] = {}
        for span in self.spans:
            if "job_hi" not in span:
                continue
            jobs = range(span["job_lo"], span["job_hi"])
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for s in list(info.stageIds):
                    if s not in stage_tasks:
                        si = st.getStageInfo(s)
                        stage_tasks[s] = si.numCompletedTasks if si is not None else 0
                    if stage_tasks[s] > 0:
                        stages += 1
                        tasks += stage_tasks[s]
            span.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")

    # ------------------------------------------------------ derivations

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    @staticmethod
    def duration(span: dict) -> float:
        return span["end"] - span["start"] - span.get("bk", 0.0)

    def children_time(self, span: dict) -> float:
        """Time covered by the span's direct children (children of one
        span run sequentially on one thread, so durations add)."""
        return sum(
            self.duration(c) for c in self.spans if c.get("parent") == span["id"] and "end" in c
        )
