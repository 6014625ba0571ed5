"""Per-call Spark counts for the traced run.

Each traced call runs under its own job group; afterwards the job ids come
from the status tracker and the per-stage counters (scan tasks, input,
shuffle and spill bytes) from the application status store.  Nothing here adds a
Spark job.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class CallStats:
    seconds: float = 0.0
    jobs: int = 0
    scan_stages: int = 0
    scan_tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


class SparkStats:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._n = 0

    @contextmanager
    def call(self, name: str):
        """Time the body under a fresh job group; the yielded stats are
        filled in when the body returns."""
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        stats = CallStats()
        self._sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield stats
        finally:
            stats.seconds = time.perf_counter() - start
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        self._fill(group, stats)

    def _fill(self, group: str, stats: CallStats) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        jvm, gw = self._sc._jvm, self._sc._gateway
        no_quantiles = gw.new_array(jvm.double, 0)
        job_ids = tracker.getJobIdsForGroup(group)
        stats.jobs = len(job_ids)
        stage_ids = {s for j in job_ids for s in (tracker.getJobInfo(j).stageIds or [])}
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() != "COMPLETE":
                    continue
                stats.shuffle_bytes += sd.shuffleWriteBytes()
                stats.spill_bytes += sd.diskBytesSpilled()
                if sd.inputBytes() > 0:
                    stats.scan_stages += 1
                    stats.scan_tasks += sd.numTasks()
