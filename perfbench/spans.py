"""Spans, call wrappers and Spark job-group counters for the traced run.

Everything here observes the engine from outside: spans are opened by
the benchmark around its own calls, or by wrappers that the benchmark
binds in place of the engine's public functions for the length of one
traced run (``Rebinder``) and restores afterwards. Spans stay in memory
until the run writes them out once at the end.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "sandbox_data_pipeline_spark"


class Tracer:
    """In-memory span recorder. A span is ``[name, start, end, parent,
    op]``: ``parent`` indexes ``spans`` (-1 for a root) and ``op`` is the
    id of the benchmark operation that caused it. Only the main thread
    records; calls made from Spark's callback threads pass through."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.op: str | None = None
        self.counts: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield
            return
        rec = [name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else -1, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[self.op][name] += n

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            kids[s[3]].append(i)
        out = []
        for i, (_, start, end, _, _) in enumerate(self.spans):
            covered, reach = 0.0, start
            for lo, hi in sorted((self.spans[k][1], self.spans[k][2]) for k in kids[i]):
                lo, hi = max(lo, reach), min(hi, end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out.append(end - start - covered)
        return out

    def by_op(self) -> dict[str, dict[str, list[float]]]:
        """Self time and call count per op and span name:
        ``{op: {name: [seconds, calls]}}``."""
        out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(lambda: [0.0, 0]))
        for s, self_s in zip(self.spans, self.self_times()):
            acc = out[s[4]][s[0]]
            acc[0] += self_s
            acc[1] += 1
        return out


class Rebinder:
    """Binds wrappers in place of engine functions and restores the
    originals. ``everywhere`` rebinds every module-level name in the
    engine package that refers to the original, which is the name its
    callers look up (``from x import f`` copies the binding)."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def everywhere(self, orig, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self.set(mod, attr, wrapper)

    def methods(self, cls, tracer: Tracer, name_of) -> None:
        """Wrap every public method of ``cls``; ``name_of(method)``
        gives the span name."""
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            if isinstance(raw, (classmethod, staticmethod)):
                fn = raw.__func__
                wrapped = type(raw)(tracer.wrap(name_of(attr), fn))
            elif inspect.isfunction(raw):
                wrapped = tracer.wrap(name_of(attr), raw)
            else:
                continue
            self.set(cls, attr, wrapped)

    def restore(self) -> None:
        while self._saved:
            owner, attr, val = self._saved.pop()
            setattr(owner, attr, val)


def group_stats(sc, group: str) -> dict[str, float]:
    """Jobs, tasks and stage metrics of one job group, read from Spark's
    status store once its listener bus has drained. Call right after
    the operation, before ``spark.ui.retainedJobs``/``retainedStages``
    can evict the group's entries. Skipped stages did no work and are
    left out."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = dict.fromkeys(
        ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "peak_mem_mb"), 0.0
    )
    seen: set[int] = set()
    jobs = tracker.getJobIdsForGroup(group)
    out["jobs"] = len(jobs)
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / 2**20
            out["peak_mem_mb"] = max(out["peak_mem_mb"], sd.peakExecutionMemory() / 2**20)
    return out
