"""Spans and Spark counters for the traced run.

Spans are kept in memory and written out when the run ends.  Each span
runs its Spark jobs under a job group of its own, so the jobs, stages,
executor CPU and shuffle bytes it caused can be read back from the
status store afterwards (this works with the web UI off).  The untraced
run never creates a ``Tracer``.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional

from .env import wall

STAGE_FIELDS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


@dataclass
class Span:
    name: str
    op: str
    start: float
    parent: Optional[str] = None
    end: float = 0.0
    group: str = ""
    counters: Dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


class SparkCounters:
    """Reads per-job-group totals from the status tracker and store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_totals(self, group: str) -> Dict[str, float]:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        out = {k: 0.0 for k in STAGE_FIELDS}
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        ran = 0
        for sid in sorted(stages):
            try:
                data = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            except Py4JJavaError:  # skipped stage: never ran, has no data
                continue
            for i in range(data.size()):
                sd = data.apply(i)
                ran += 1
                for key, (getter, scale) in STAGE_FIELDS.items():
                    out[key] += float(getattr(sd, getter)()) * scale
        out["jobs"] = float(len(jobs))
        out["stages"] = float(ran)
        return out


class Tracer:
    """In-memory spans; one Spark job group per span."""

    def __init__(self, spark):
        self.spark = spark
        self.counters = SparkCounters(spark)
        self.spans: List[Span] = []
        self._ids = itertools.count()
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str, op: str = "") -> Iterator[Span]:
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op, wall(), parent.group if parent else None)
        sp.group = f"pb{next(self._ids)}"
        sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = wall()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                clear_job_group(sc)
            self.spans.append(sp)

    def collect_counters(self) -> None:
        """Attach Spark totals to every span (call once, at the end)."""
        self.counters.drain()
        for sp in self.spans:
            sp.counters = self.counters.group_totals(sp.group)

    def to_json(self) -> List[Dict[str, object]]:
        return [
            {
                "name": s.name, "op": s.op, "id": s.group, "parent": s.parent,
                "start": s.start, "end": s.end, "seconds": s.seconds,
                **{k: s.counters.get(k, 0.0) for k in
                   ("jobs", "executor_cpu_s", "shuffle_write_bytes")},
            }
            for s in self.spans
        ]
