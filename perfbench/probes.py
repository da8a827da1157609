"""Counters taken from outside the program, and the summary statistics.

- Spark jobs: the DAGScheduler's monotonic next job id, read before and
  after an operation (the same counter ``tools/bench_ingest.py`` reads).
- Spark tasks: the status tracker's stage task counts of those jobs.
- Parquet files and bytes: a walk of the store root.
"""

from __future__ import annotations

import math
import os
import statistics


class SparkCounter:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._sched = self.sc._jsc.sc().dagScheduler()

    def next_job(self) -> int:
        return int(self._sched.nextJobId())

    def tasks(self, first_job: int, end_job: int) -> int:
        """Tasks of jobs [first_job, end_job), summed over their stages."""
        tracker = self.sc.statusTracker()
        total = 0
        for job in range(first_job, end_job):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for stage in info.stageIds:
                st = tracker.getStageInfo(stage)
                if st is not None:
                    total += st.numTasks
        return total


def walk(root: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, name))
            except OSError:  # a compaction removed it mid-walk
                continue
            if name.endswith(".parquet"):
                files += 1
    return files, size


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile). With fewer than 11 samples no such percentile
    exists; the median stands in and the percentile reads 50."""
    n = len(values)
    if n < 11:
        return statistics.median(values), 50
    pct = math.floor(100 * (n - 10) / n)
    ordered = sorted(values)
    # nearest-rank: the value at rank ceil(pct/100 * n)
    return ordered[max(0, math.ceil(pct / 100 * n) - 1)], pct
