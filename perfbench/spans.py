"""Per-layer spans, recorded from outside the program.

A span wraps one call into a layer's public function. It gives the call
its own Spark job group; when the outermost span ends, the tracer waits
for Spark's listener bus to drain and reads each span's jobs from the
status tracker and its stages from the status store. Quantities of a
span include those of the spans nested in it.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Quantity name -> unit, per span.
QUANTITIES = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "no_task_s": "s",
}

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


@dataclass
class _Span:
    name: str
    group: str
    children: list["_Span"] = field(default_factory=list)
    t0: float = 0.0          # epoch seconds, comparable to stage times
    t1: float = 0.0
    wall: float = 0.0        # perf_counter duration
    stages: list[tuple] = field(default_factory=list)
    jobs: int = 0

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def _union_seconds(intervals: list[tuple[float, float]], lo: float,
                   hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Collects spans of one pass at a time; ``take_pass`` returns the
    pass's per-span totals and starts the next pass."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._stack: list[_Span] = []
        self._done: list[_Span] = []
        self._seq = 0
        self.materialize = None   # optional hook: (span name, frame) -> frame
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        sc = self._sc
        self._seq += 1
        rec = _Span(name, f"perfbench-span-{self._seq}")
        if self._stack:
            self._stack[-1].children.append(rec)
        prev = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
        sc.setJobGroup(rec.group, name)
        self._stack.append(rec)
        rec.t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield
        finally:
            rec.wall = time.perf_counter() - p0
            rec.t1 = time.time()
            self._stack.pop()
            for k, v in zip(_GROUP_KEYS, prev):
                sc.setLocalProperty(k, v)
            if not self._stack:
                self._read(rec)
                self._done.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a traced wrapper for the rest of the
        process; callers inside the program that look the function up on
        its module at call time are traced too."""
        from pyspark.sql import DataFrame

        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if self.materialize is not None and isinstance(out, DataFrame):
                    out = self.materialize(name, out)
            return out

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- reading Spark's status ------------------------------------------

    def _read(self, root: _Span) -> None:
        from py4j.protocol import Py4JJavaError

        sc = self._sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in root.walk():
            job_ids = tracker.getJobIdsForGroup(s.group) or []
            s.jobs = len(job_ids)
            seen = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        # the store evicts skipped stages first
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    sub, comp = st.submissionTime(), st.completionTime()
                    s.stages.append((
                        st.numTasks(), st.executorRunTime() / 1e3,
                        st.executorCpuTime() / 1e9, st.jvmGcTime() / 1e3,
                        st.shuffleWriteBytes(), st.diskBytesSpilled(),
                        sub.get().getTime() / 1e3 if sub.isDefined() else None,
                        comp.get().getTime() / 1e3 if comp.isDefined()
                        else None))

    @staticmethod
    def _quantities(s: _Span) -> dict[str, float]:
        stages = [st for x in s.walk() for st in x.stages]
        intervals = [(st[6], st[7]) for st in stages
                     if st[6] is not None and st[7] is not None]
        return {
            "wall_s": s.wall,
            "jobs": sum(x.jobs for x in s.walk()),
            "stages": len(stages),
            "tasks": sum(st[0] for st in stages),
            "executor_run_s": sum(st[1] for st in stages),
            "executor_cpu_s": sum(st[2] for st in stages),
            "gc_s": sum(st[3] for st in stages),
            "shuffle_write_bytes": sum(st[4] for st in stages),
            "spill_bytes": sum(st[5] for st in stages),
            "no_task_s": max(0.0, s.wall - _union_seconds(intervals, s.t0,
                                                          s.t1)),
        }

    def take_pass(self) -> dict[str, dict[str, float]]:
        """Totals per span name over every call (nested ones included)
        finished since the previous ``take_pass``."""
        totals: dict[str, dict[str, float]] = {}
        for root in self._done:
            for s in root.walk():
                q = self._quantities(s)
                acc = totals.setdefault(s.name, dict.fromkeys(QUANTITIES, 0))
                for k, v in q.items():
                    acc[k] += v
        self._done = []
        return totals
