"""Spans around calls into the product's layers, with Spark's own metrics.

A span records name, parent, start and end. With tracing on, a span
opened with ``spark=True`` also tags its jobs with a job group and,
when it closes, reads from Spark's in-process status store what those
jobs did: jobs, stages, tasks, task run time, GC time, shuffle bytes
written and bytes spilled to disk. It also compares the session conf
before and after the call.

With tracing off a span only times its body, so the end-to-end
figures are measured without the metric reads. Spans stay in memory
and are written out once, when the benchmark ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Span:
    __slots__ = ("id", "name", "parent", "t0", "t1", "metrics")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.id, self.name, self.parent = sid, name, parent
        self.t0 = self.t1 = 0.0
        self.metrics: dict = {}

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class SparkMetrics:
    """Reads job and stage metrics of one job group from the driver's
    status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = self.sc._gateway.new_array(
            self.sc._gateway.jvm.double, 0)

    def conf(self) -> dict[str, str]:
        return dict(self.spark.conf.getAll)

    def of_group(self, group: str) -> dict:
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            for sid in (info.stageIds if info else ()):
                attempts = self._store.stageData(
                    sid, False, None, False, self._no_quantiles)
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["run_ms"] += st.executorRunTime()
                    out["gc_ms"] += st.jvmGcTime()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.diskBytesSpilled()
        return out


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = SparkMetrics(spark) if enabled and spark else None

    @contextmanager
    def span(self, name: str, spark: bool = True):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent)
        if not self.enabled:
            sp.t0 = time.perf_counter()
            yield sp
            sp.t1 = time.perf_counter()
            return
        self.spans.append(sp)
        self._stack.append(sp)
        m = self._spark if spark else None
        if m is not None:
            group = f"span-{sp.id}"
            conf0 = m.conf()
            m.sc.setJobGroup(group, name)
        try:
            sp.t0 = time.perf_counter()
            yield sp
            sp.t1 = time.perf_counter()
        finally:
            self._stack.pop()
            if m is not None:
                m.sc.setLocalProperty("spark.jobGroup.id", None)
                m.sc.setLocalProperty("spark.job.description", None)
                sp.metrics = m.of_group(group)
                conf1 = m.conf()
                sp.metrics["conf_changed"] = sorted(
                    k for k in set(conf0) | set(conf1)
                    if conf0.get(k) != conf1.get(k))

    @contextmanager
    def paused(self, pause: bool = True):
        """Time spans opened inside without recording them."""
        was = self.enabled
        self.enabled = was and not pause
        try:
            yield
        finally:
            self.enabled = was

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part its direct children cover
        (children run sequentially, so their durations add)."""
        return sp.seconds - sum(c.seconds for c in self.spans
                                if c.parent == sp.id)

    def dump(self, path: Path, t_origin: float) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "start_s": round(sp.t0 - t_origin, 6),
                    "end_s": round(sp.t1 - t_origin, 6),
                    **sp.metrics}) + "\n")
