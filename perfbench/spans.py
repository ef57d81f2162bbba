"""Spans, Spark counters and host counters, recorded from outside the program.

A span tags the Spark jobs its layer call starts with a job group of its own,
so the counters read back for that group (``statusTracker`` job ids, then the
JVM status store's ``lastStageAttempt`` per stage) belong to that call alone.
The status store is populated with the UI off. Spans stay in memory and are
written out by the caller when the benchmark ends.
"""

from __future__ import annotations

import gc
import os
import time
from contextlib import contextmanager


def stage_stats(sc, group: str) -> dict:
    """Counters summed over the distinct stages of a job group's jobs.
    Skipped stages carry zero metrics, so counting them once is exact."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            raise RuntimeError(f"job {j} of group {group} was evicted from the status store")
        stages.update(info.stageIds)
    out = dict.fromkeys(
        ["tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "output_bytes"], 0
    )
    out["jobs"] = len(jobs)
    for s in stages:
        sd = store.lastStageAttempt(s)  # raises if the stage was evicted
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["run_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()
        out["output_bytes"] += sd.outputBytes()
    return out


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def release_blocks(spark) -> None:
    """Drop localCheckpoint blocks, then collect Python and JVM garbage so
    the ContextCleaner frees shuffle files and broadcasts. Runs between
    runs, outside every timed window."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(persistent.keySet().toArray()):
        persistent.get(rid).unpersist(True)
    gc.collect()
    spark._jvm.System.gc()


def bytes_since(root: str, t0: float) -> int:
    """Bytes in files under ``root`` modified at or after wall time ``t0``."""
    total = 0
    for d, _, files in os.walk(root):
        for name in files:
            st = os.stat(os.path.join(d, name))
            if st.st_mtime >= t0:
                total += st.st_size
    return total


class Tracer:
    """Records ``(name, start, end, parent)`` spans with the Spark counters of
    the jobs each span started."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.parallelism = self.sc.defaultParallelism
        self.run_id = run_id
        self.origin = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}/{name}"
        rec: dict = {"name": name, "parent": parent}
        self._stack.append(name)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(f"{self.run_id}/{parent}" if parent else f"{self.run_id}/-", parent or "-")
            rec.update(start=t0 - self.origin, end=t1 - self.origin, wall_s=t1 - t0)
            rec.update(stage_stats(self.sc, group))
            rec["busy_share"] = rec["run_s"] / (rec["wall_s"] * self.parallelism)
            self.spans.append(rec)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)
