"""Spark job and codegen accounting through public APIs.

Jobs are counted by job group: ``JobCounter`` runs the calling
thread's actions under one ``setJobGroup`` and reads the group's job
ids from ``statusTracker()`` — no ``dagScheduler()`` internals. The
status tracker is filled asynchronously by the listener bus, so every
read first runs a sentinel job in a side group and waits until the
tracker has recorded it: listener events arrive in order, so every job
submitted before the sentinel is recorded by then. The sentinel is
never counted.

``codegen_compiles`` reads Spark's codegen compilation counter: the
number of generated classes the JVM compiled so far (a cache hit on
identical generated code does not count). On ``local[*]`` masters the
executors share the driver JVM, so it covers task-side compiles too.
"""

from __future__ import annotations

import itertools
import time
import uuid

from pyspark.sql import SparkSession

_sentinels = itertools.count()


class JobCounter:
    """``with JobCounter(spark) as jobs: ...; n = jobs.count()`` — the
    Spark jobs the calling thread ran inside the block so far. Take
    deltas of ``count()`` to count a phase; nested phases need no
    nested groups."""

    def __init__(self, spark: SparkSession, name: str = "measure"):
        self.sc = spark.sparkContext
        self.group = f"{name}-{uuid.uuid4().hex[:12]}"

    def __enter__(self) -> "JobCounter":
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc) -> None:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(prop, None)

    def count(self, timeout_s: float = 30.0) -> int:
        sentinel = f"{self.group}-sentinel-{next(_sentinels)}"
        self.sc.setJobGroup(sentinel, "job-count sentinel")
        try:
            self.sc.parallelize([0], 1).count()
        finally:
            self.sc.setJobGroup(self.group, self.group)
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while not tracker.getJobIdsForGroup(sentinel):
            if time.monotonic() > deadline:
                raise TimeoutError("sentinel job never reached the status tracker")
            time.sleep(0.02)
        return len(tracker.getJobIdsForGroup(self.group))


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled by this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
