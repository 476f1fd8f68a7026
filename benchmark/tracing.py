"""Spans around the calls into each layer, and the Spark stage metrics
of each span's job group.

Spark is lazy, so a span that only built a DataFrame would time
nothing.  ``Tracer.force`` builds the frame inside the span, persists
it and counts it, all under the span's own job group: the span then
holds that layer's work, and later layers read the persisted result.
Stage metrics (executor run and CPU time, shuffle and spill bytes)
are read from the Spark status store per job group after the pass.

Spans and metrics stay in memory until ``write`` is called once at the
end of a run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    pass_id: str
    group: str
    rows: Optional[int] = None
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class GroupMetrics:
    """Totals over the stages that ran for one job group."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "GroupMetrics") -> None:
        for k in asdict(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


def job_group_metrics(spark: SparkSession, group: str) -> GroupMetrics:
    """Stage metrics of every job run under ``group``.

    Waits for the listener bus to drain first: the status store is
    filled asynchronously, after the action that ran the jobs returned.
    Skipped stages (their shuffle output was reused) did no work and
    are not counted.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    m = GroupMetrics()
    for job_id in tracker.getJobIdsForGroup(group):
        m.jobs += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            s = store.lastStageAttempt(stage_id)
            if s.status().toString() == "SKIPPED":
                continue
            m.stages += 1
            m.tasks += s.numCompleteTasks()
            m.executor_run_s += s.executorRunTime() / 1e3
            m.executor_cpu_s += s.executorCpuTime() / 1e9
            m.shuffle_write_bytes += s.shuffleWriteBytes()
            m.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return m


class Tracer:
    """Nested spans, each with its own Spark job group."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.group_metrics: dict[str, GroupMetrics] = {}
        self.forced: list[DataFrame] = []

    @contextmanager
    def span(self, name: str, pass_id: str):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{pass_id}/{idx}/{name}"
        span = Span(name, time.perf_counter(), 0.0, parent, pass_id, group)
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        sc.setJobGroup(group, name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                sc.setJobGroup(outer.group, outer.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, name: str, pass_id: str,
              build: Callable[[], DataFrame]) -> DataFrame:
        """Build, persist and count a layer's frame inside its span.  The
        frame is also kept in ``forced`` for the caller to unpersist."""
        with self.span(name, pass_id) as span:
            df = build().persist(StorageLevel.MEMORY_AND_DISK)
            span.rows = df.count()
        self.forced.append(df)
        return df

    def forcing(self, name: str, pass_id: str, fn: Callable[..., DataFrame]):
        """``fn`` with each call's frame forced in a span named ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs) -> DataFrame:
            return self.force(name, pass_id, lambda: fn(*args, **kwargs))
        return traced

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its (sequential) children took."""
        span = self.spans[idx]
        return span.duration - sum(self.spans[c].duration for c in span.children)

    def self_seconds(self, name: str) -> float:
        """Summed self time of every span with this name."""
        return sum(self.self_time(i) for i in self.named(name))

    def collect_metrics(self) -> None:
        for span in self.spans:
            if span.group not in self.group_metrics:
                self.group_metrics[span.group] = job_group_metrics(self.spark, span.group)

    def totals(self, names: tuple[str, ...] = (), pass_id: str | None = None) -> GroupMetrics:
        """Summed stage metrics of the spans with these names (all if
        empty), optionally restricted to one pass."""
        total = GroupMetrics()
        for span in self.spans:
            if (not names or span.name in names) and pass_id in (None, span.pass_id):
                total.add(self.group_metrics.get(span.group, GroupMetrics()))
        return total

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def write(self, path: str) -> None:
        payload = {
            "spans": [
                {"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "pass_id": s.pass_id, "group": s.group,
                 "rows": s.rows, "self_s": self.self_time(i)}
                for i, s in enumerate(self.spans)
            ],
            "group_metrics": {g: asdict(m) for g, m in self.group_metrics.items()},
        }
        with open(path, "w") as fh:
            json.dump(payload, fh, indent=1)
