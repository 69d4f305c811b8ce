"""Spans, counters and Spark status-store deltas for the traced run.

Everything here observes the package from outside: it times calls into
public functions, wraps a few of them, and reads Spark's status store and
/proc around them. Spans live in memory and are written once, at the end.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, fields

MB = 1 << 20


@dataclass
class SparkWork:
    """Executor work summed over completed stage attempts."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    task_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def __add__(self, other: "SparkWork") -> "SparkWork":
        return SparkWork(*(getattr(self, f.name) + getattr(other, f.name) for f in fields(self)))


class StatusStore:
    """Reads the work Spark finished since the previous read.

    Both actions and eager build-time jobs are synchronous, so at a
    boundary every stage with an id at or below the newest one is final.
    The store lists stages and jobs newest first, so a read walks only the
    new ones. The listener bus is drained first; otherwise the store can
    lag the action that just returned, and counts would not repeat."""

    def __init__(self, sc):
        jvm = sc._jvm
        self._ctx = sc._jsc.sc()
        self._store = self._ctx.statusStore()
        self._complete = jvm.java.util.ArrayList()
        self._complete.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._all = jvm.java.util.ArrayList()
        self._last_stage, self._last_job = self._newest()

    def _newest(self) -> tuple[int, int]:
        self._ctx.listenerBus().waitUntilEmpty()
        stages = self._store.stageList(self._complete, False, False, self._no_quantiles, self._all)
        jobs = self._store.jobsList(self._all)
        return (stages.get(0).stageId() if stages.size() else -1,
                jobs.apply(0).jobId() if jobs.size() else -1)

    def read(self) -> SparkWork:
        self._ctx.listenerBus().waitUntilEmpty()
        w = SparkWork()
        stages = self._store.stageList(self._complete, False, False, self._no_quantiles, self._all)
        it = stages.iterator()
        newest = self._last_stage
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            w.stages += 1
            w.tasks += s.numCompleteTasks()
            w.cpu_s += s.executorCpuTime() / 1e9
            w.task_s += s.executorRunTime() / 1e3
            w.gc_s += s.jvmGcTime() / 1e3
            w.input_mb += s.inputBytes() / MB
            w.shuffle_read_mb += s.shuffleReadBytes() / MB
            w.shuffle_write_mb += s.shuffleWriteBytes() / MB
            w.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        self._last_stage = newest
        jobs = self._store.jobsList(self._all)
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        w.jobs, self._last_job = last_job - self._last_job, last_job
        return w

    def cached_mb(self) -> float:
        """Memory and disk held by persisted RDDs: caches and checkpoints."""
        return sum(r.memSize() + r.diskSize() for r in self._ctx.getRDDStorageInfo()) / MB


class Tracer:
    """Spans ``{name, start, end, parent, run_id}`` and per-name counters.

    ``span`` also credits the Spark work finished inside it to the span's
    name, inclusive of nested spans, and samples cache residency at each
    boundary. Recording happens only while ``active`` is set."""

    def __init__(self, store: StatusStore, run_id: str):
        self.store = store
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.work: dict[str, SparkWork] = defaultdict(SparkWork)
        self.cached_mb_peak = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        self._attribute()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._attribute()
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.counts[f"{name}.calls"] += 1
            self.counts[f"{name}.s"] += rec["end"] - rec["start"]

    def _attribute(self) -> None:
        w = self.store.read()
        for i in self._stack:
            self.work[self.spans[i]["name"]] += w
        self.cached_mb_peak = max(self.cached_mb_peak, self.store.cached_mb())

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its direct children
        cover (children never overlap: calls are sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


def wrap(module, attr: str, tracer: Tracer, name: str, on_result=None):
    """Replace ``module.attr`` by a wrapper that runs it inside a span named
    ``name``, or ``name(args)`` when it is callable. ``on_result(args,
    result)`` may count something about each call."""
    inner = getattr(module, attr)

    @functools.wraps(inner)
    def traced(*args, **kwargs):
        with tracer.span(name(args) if callable(name) else name):
            result = inner(*args, **kwargs)
        if tracer.active and on_result is not None:
            on_result(args, result)
        return result

    setattr(module, attr, traced)
