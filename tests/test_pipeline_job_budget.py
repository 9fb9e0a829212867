"""Per-micro-batch Spark JOB budget (round-7 VERDICT item 3): the
round-6 throughput regression was per-batch constant overhead, fixed
by riding the max-ts on the buffer write's Observation and folding the
fired count into the watermark agg. These tests pin the job counts so
the overhead can't silently creep back — `tools/profile_batch.py` is
the matching measurement tool.

Budgets (steady state, optional stages off):
- idle pipeline (no active rules): 1 job — the buffer write; nothing
  reads the buffer back.
- one rule, nothing matches (evals empty): 4 jobs — buffer write,
  buffer schema read, and the evaluations write, which is the
  evaluation's shuffle-map job plus the write job. The write's
  Observation reports zero rows, so no alerts write, watermark agg or
  spawn collect follows.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.measure import JobCounter
from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry


def _jobs(spark, pipe, df, batch_id) -> int:
    """Spark jobs one micro-batch runs, counted through the public job
    group API (broadcast jobs inherit the caller's group)."""
    with JobCounter(spark, f"job-budget-{batch_id}") as jobs:
        j0 = jobs.count()
        pipe.process_batch(df, batch_id)
        return jobs.count() - j0


def _batch(spark, n=50, speed=10.0):
    return spark.createDataFrame(
        [(1, 1_000 + i, speed) for i in range(n)],
        "carId int, ms long, speed double",
    ).select("carId", F.timestamp_millis("ms").alias("ts"), "speed")


def test_idle_pipeline_one_job_per_batch(spark, tmp_path):
    pipe = ActivePipeline(
        spark=spark, registry=RuleRegistry(), work_dir=str(tmp_path / "wk")
    )
    pipe.process_batch(_batch(spark), 0)  # warm-up (committer init etc.)
    jobs = _jobs(spark, pipe, _batch(spark), 1)
    assert jobs <= 1, (
        f"idle micro-batch ran {jobs} jobs (budget: 1 — "
        "the buffer write); a job crept onto the idle path"
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
        "jobs (budget: 4 — buffer write, schema read, evaluation "
        "shuffle-map and evaluations write); see tools/profile_batch.py"
    )
