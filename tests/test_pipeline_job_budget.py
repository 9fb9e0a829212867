"""Per-micro-batch Spark JOB budget (round-7 VERDICT item 3): the
round-6 throughput regression was per-batch constant overhead, fixed
by riding the max-ts on the buffer write's Observation and folding the
fired count into the watermark agg. These tests pin the job counts so
the overhead can't silently creep back — `tools/profile_batch.py` is
the matching measurement tool.

Budgets (steady state, optional stages off):
- idle pipeline (no active rules): 2 jobs — buffer write + buffer
  schema read.
- one rule, nothing matches (evals empty): 4 jobs — buffer write,
  schema read, eval materialization (isEmpty on the persisted evals),
  watermark agg.
"""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry


def _jobs(spark, pipe, df, batch_id) -> int:
    """Spark jobs one micro-batch runs, counted through the public job
    group API (broadcast jobs inherit the caller's group).

    The status tracker is filled asynchronously by the listener bus, so
    a sentinel job in a second group runs after the batch: listener
    events arrive in order, so once the sentinel is visible every job of
    the batch has been recorded too."""
    sc = spark.sparkContext
    group = f"job-budget-{batch_id}-{id(pipe)}"
    sentinel = f"{group}-sentinel"
    try:
        sc.setJobGroup(group, "job budget")
        pipe.process_batch(df, batch_id)
        sc.setJobGroup(sentinel, "job budget sentinel")
        sc.parallelize([0], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never recorded"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _batch(spark, n=50, speed=10.0):
    return spark.createDataFrame(
        [(1, 1_000 + i, speed) for i in range(n)],
        "carId int, ms long, speed double",
    ).select("carId", F.timestamp_millis("ms").alias("ts"), "speed")


def test_idle_pipeline_two_jobs_per_batch(spark, tmp_path):
    pipe = ActivePipeline(
        spark=spark, registry=RuleRegistry(), work_dir=str(tmp_path / "wk")
    )
    pipe.process_batch(_batch(spark), 0)  # warm-up (committer init etc.)
    jobs = _jobs(spark, pipe, _batch(spark), 1)
    assert jobs <= 2, (
        f"idle micro-batch ran {jobs} jobs (budget: 2 — "
        "buffer write + schema read); a job crept onto the idle path"
    )


def test_single_rule_no_match_four_jobs_per_batch(spark, tmp_path):
    reg = RuleRegistry()
    reg.apply_json(
        json.dumps(
            {
                "queryId": 1,
                "queryState": "ACTIVE",
                "lastTime": -1,
                "windowMilliseconds": 10_000,
                "frequencyMilliseconds": None,
                "groupingKeyNames": ["carId"],
                # filter matches nothing: evals stay empty, the
                # steady-state floor is visible
                "windowFilterRules": [
                    {"field": "speed", "operator": ">", "value": "1e9"}
                ],
                "aggregatorFunctionType": "AVG",
                "limitOperatorType": ">",
                "limit": 0,
                "aggregateFieldName": "speed",
            }
        )
    )
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "wk")
    )
    pipe.process_batch(_batch(spark), 0)  # warm-up
    pipe.process_batch(_batch(spark), 1)  # steady state reached
    jobs = _jobs(spark, pipe, _batch(spark), 2)
    assert jobs <= 4, (
        f"single-rule no-emission micro-batch ran {jobs} "
        "jobs (budget: 4 — buffer write, schema read, eval "
        "materialization, watermark agg); see tools/profile_batch.py"
    )
