"""Spans and counts recorded around the benchmark's calls into each layer.

A span is (id, name, start, end, trace id), kept in memory and
summarised when the run ends. A span opened with ``jobs=True`` runs its
body under its own Spark job group and, when it closes, reads the
group's job and stage counts from ``statusTracker()`` after the listener
bus has drained, so the counts are exact. With tracing off every call is
a no-op and no job group is ever set.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    trace: str | None
    jobs: int = 0
    stages: int = 0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._ids = itertools.count()

    def reset(self) -> None:
        """Forget what the untimed warm-up recorded."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()
            self.samples.clear()
            self.own_s = 0.0

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0.0) + value

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.samples.setdefault(name, []).append(value)

    def peak(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = max(self.counts.get(name, value), value)

    @contextmanager
    def span(self, name: str, trace: str | None = None, jobs: bool = False):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = next(self._ids)
        group = prev = None
        if jobs:
            group = f"perfbench-{sid}"
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(group, name)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            span = Span(sid, name, t1, t2, trace)
            if jobs:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)
                span.jobs, span.stages = self._job_counts(group)
            with self._lock:
                self.spans.append(span)
                self.own_s += (t1 - t0) + (time.perf_counter() - t2)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_submitted(self) -> int:
        """Jobs the scheduler has accepted since the session started."""
        return self._sc._jsc.sc().dagScheduler().numTotalJobs()

    def _job_counts(self, group: str) -> tuple[int, int]:
        self.drain()
        st = self._sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        stages = 0
        for j in ids:
            info = st.getJobInfo(j)
            stages += len(info.stageIds) if info else 0
        return len(ids), stages

    # -- summaries ---------------------------------------------------------

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_s(self, name: str) -> float:
        d = [s.end - s.start for s in self.of(name)]
        return statistics.median(d) if d else 0.0

    def median_sample(self, name: str) -> float:
        d = self.samples.get(name, [])
        return statistics.median(d) if d else 0.0

    def median_jobs(self, name: str) -> float:
        d = [s.jobs for s in self.of(name)]
        return statistics.median(d) if d else 0.0

