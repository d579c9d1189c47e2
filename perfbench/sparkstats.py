"""Spark status-store reader: stage totals diffed around a span.

``AppStatusStore.stageList`` is readable with the UI disabled.  Only the
newest ``spark.ui.retainedStages`` (default 1000) stages are kept, so the
reader is called after every span and remembers the highest stage id it
has already counted; stage ids only grow, and the list comes back
newest first, so each read walks only the stages added since the last.
The store is fed asynchronously by the listener bus, so each read first
waits for the bus to drain.
"""

from __future__ import annotations

import statistics

FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def zero() -> dict[str, float]:
    return {k: 0.0 for k in FIELDS}


def add(into: dict[str, float], other: dict[str, float]) -> None:
    for k in FIELDS:
        into[k] += other[k]


class StageReader:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._tracker = sc.statusTracker()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._seen_stage = -1
        self._seen_job = -1
        self.delta()  # start from "now"

    def _new_stages(self):
        seq = self._store.stageList(
            None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList()
        )
        it = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= self._seen_stage:
                break
            yield s

    def delta(self) -> tuple[dict[str, float], list[tuple[int, int]], int]:
        """Totals of the stages completed since the last call, the
        (stage id, attempt) of those that read shuffle data, and the
        number of jobs started since the last call."""
        self._bus.waitUntilEmpty()
        tot = zero()
        reducers: list[tuple[int, int]] = []
        top = self._seen_stage
        for s in self._new_stages():
            top = max(top, s.stageId())
            tot["tasks"] += s.numTasks() if s.status().toString() != "SKIPPED" else 0
            tot["executor_run_s"] += s.executorRunTime() / 1e3
            tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.shuffleReadBytes() > 0:
                reducers.append((s.stageId(), s.attemptId()))
        self._seen_stage = top
        jobs = [j for j in self._tracker.getJobIdsForGroup(None) if j > self._seen_job]
        if jobs:
            self._seen_job = max(jobs)
        return tot, reducers, len(jobs)

    def task_skew(self, stage: tuple[int, int]) -> float:
        """Max over median shuffle-read bytes per task of one reduce stage."""
        tasks = self._store.taskList(stage[0], stage[1], 100000)
        it = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(tasks).iterator()
        sizes = []
        while it.hasNext():
            m = it.next().taskMetrics()
            if m.isDefined():
                r = m.get().shuffleReadMetrics()
                sizes.append(r.localBytesRead() + r.remoteBytesRead())
        med = statistics.median(sizes) if sizes else 0
        return max(sizes) / med if med else 0.0
