"""Spans around the benchmark's calls into the package, and the Spark
status-store counters of the jobs each call submitted.

Spans stay in memory until :meth:`Tracer.write`. Counters come from the
session's AppStatusStore, which Spark keeps even with the UI disabled:
every call runs under its own job group, and the stages of that group's
jobs are summed once each.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_MB = float(1 << 20)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, inv: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "inv": inv,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def stage_counters(spark, group: str) -> dict[str, float]:
    """Job, task, executor-time, shuffle and spill totals of the jobs
    submitted under job group ``group``."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is filled by listeners
    store = jsc.statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    stages: set[int] = set()
    for j in jobs:
        ids = store.job(j).stageIds().mkString(",")
        stages.update(int(s) for s in ids.split(",") if s)
    tasks = run_ms = cpu_ns = shuffle = spill = 0
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # a stage that never ran has no attempt
            continue
        tasks += sd.numCompleteTasks()
        run_ms += sd.executorRunTime()
        cpu_ns += sd.executorCpuTime()
        shuffle += sd.shuffleWriteBytes()
        spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return {
        "jobs.spark_jobs": len(jobs),
        "jobs.tasks": tasks,
        "jobs.executor_run_s": run_ms / 1e3,
        "jobs.executor_cpu_s": cpu_ns / 1e9,
        # task time the JVM thread spent not on its own CPU: mostly
        # waiting on Python workers across the Arrow boundary
        "jobs.python_gap_s": run_ms / 1e3 - cpu_ns / 1e9,
        "jobs.shuffle_write_mb": shuffle / _MB,
        "jobs.spill_mb": spill / _MB,
    }


def jvm_gc_s(spark) -> float:
    """Collection time so far of every garbage collector in the session's
    JVM, which in local mode also runs the executors' tasks."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def cached_mb(spark) -> float:
    """Memory plus disk held by cached RDD blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
