"""Spans recorded around calls into the engine, and Spark's own counters.

Spans live in memory and are written out once, when the run ends. A
span's self time is its duration minus the part of it covered by its
children. The tracer's overhead is the time of its own bookkeeping. Nothing here touches the engine's code: spans wrap the
benchmark's calls, and the counters are read from Spark's status
tracker and status stores, which are read-only views.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans when enabled; a no-op otherwise."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self.overhead = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, t, 0.0, parent, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.overhead += time.perf_counter() - t
        try:
            yield sp
        finally:
            t = sp.end = time.perf_counter()
            self._stack.pop()
            self.overhead += time.perf_counter() - t

    def self_time(self, index: int) -> float:
        """Duration minus the part covered by the children. Spans come
        from one thread, so children are disjoint and nested in it."""
        kids = sum(c.duration for c in self.spans if c.parent == index)
        return self.spans[index].duration - kids

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        out = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d["id"] = i
            d["self_s"] = self.self_time(i)
            out.append(d)
        with open(path, "w") as f:
            json.dump(out, f)


class SparkCounters:
    """Jobs, SQL executions and shuffle bytes attributed to job groups.

    ``jobs`` and ``shuffle_bytes`` come from the jobs of the named job
    groups (the benchmark sets its own group around each operation; a
    streaming query runs its jobs under its run id). SQL executions
    are the growth of the SQL status store's execution count, which
    counts every execution of the session, whatever its group.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm

    def sql_executions(self) -> int:
        return int(self._sql_store.executionsCount())

    def settle(self) -> None:
        """Wait until the status listeners have seen every finished
        task, so stage metrics are final before they are read."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_stats(self, groups: list[str]) -> tuple[int, int]:
        """(jobs, shuffle bytes written) over the jobs of ``groups``."""
        self.settle()
        tracker = self.sc.statusTracker()
        jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        shuffle = 0
        empty = self._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        for s in stages:
            attempts = self._app_store.stageData(s, False, empty, False, quantiles)
            for i in range(attempts.size()):
                shuffle += int(attempts.apply(i).shuffleWriteBytes())
        return len(jobs), shuffle
