"""Per-layer spans timed from outside the program.

Each layer is one call into the program's public function plus a
materializing action, run under its own Spark job group.  Its executor
metrics are read back from Spark's live status store:
``statusTracker().getJobIdsForGroup(group)`` gives the jobs, and
``sparkContext().statusStore().lastStageAttempt(stage)`` gives each stage's
task time, shuffle bytes and spill.  Nothing is parsed from event logs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_MB = 1024 * 1024
_SETTLED = {"COMPLETE", "SKIPPED", "FAILED"}


def group_metrics(spark, group: str, timeout_s: float = 10.0) -> dict:
    """Executor metrics summed over every stage of every job in `group`.

    The status listener runs asynchronously, so this waits (up to
    `timeout_s`) until every stage of the group has settled."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = spark._jsparkSession.sparkContext().statusStore()  # noqa: SLF001
    job_ids = sorted(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    deadline = time.monotonic() + timeout_s
    while True:
        stages = []
        for sid in sorted(stage_ids):
            try:
                stages.append(store.lastStageAttempt(sid))
            except Py4JJavaError:  # never submitted: nothing ran
                continue
        if all(str(s.status()) in _SETTLED for s in stages) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    ran = [s for s in stages if str(s.status()) != "SKIPPED"]
    return {
        "spark_jobs": len(job_ids),
        "task_s": sum(s.executorRunTime() for s in ran) / 1e3,
        "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in ran) / _MB,
        "spill_mb": sum(s.diskBytesSpilled() + s.memoryBytesSpilled() for s in ran) / _MB,
    }


@dataclass
class Span:
    name: str
    wall_s: float
    metrics: dict = field(default_factory=dict)


class Tracer:
    """Spans of one traced job.

    `job()` brackets the whole traced job; `layer(name)` brackets one layer
    inside it.  Benchmark-side work inside the job (reading the status
    store, counting rows for a report) runs under `aside()` and is taken
    out of the job wall, so that

        job_wall_s == sum(layer walls) + driver_gap_s

    where driver_gap_s is the program's own driver-side time between
    layers."""

    def __init__(self, spark, tag: str) -> None:
        self.spark = spark
        self.tag = tag
        self.spans: dict[str, Span] = {}
        self.job_wall_s = 0.0
        self._aside_s = 0.0

    @contextmanager
    def job(self):
        self._aside_s = 0.0
        t0 = time.perf_counter()
        try:
            yield self
        finally:
            self.job_wall_s = time.perf_counter() - t0 - self._aside_s

    @contextmanager
    def aside(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._aside_s += time.perf_counter() - t0

    @contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        group = f"{self.tag}.{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            with self.aside():
                self.spans[name] = Span(name, wall, group_metrics(self.spark, group))

    def layer_sum_s(self) -> float:
        return sum(s.wall_s for s in self.spans.values())

    def driver_gap_s(self) -> float:
        return self.job_wall_s - self.layer_sum_s()
