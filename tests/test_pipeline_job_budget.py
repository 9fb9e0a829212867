"""Per-micro-batch Spark JOB budget (round-7 VERDICT item 3): the
round-6 throughput regression was per-batch constant overhead, fixed
by riding the max-ts on the buffer write's Observation and folding the
fired count into the watermark agg. These tests pin the job counts so
the overhead can't silently creep back — `tools/profile_batch.py` is
the matching measurement tool.

Jobs are counted by ``measure.JobCounter``'s job group, which the
pipeline's side writes inherit (``inheritable_thread_target``), so
jobs run on the side-write pool count too.

Budgets (steady state, optional stages off):
- idle pipeline (no active rules): 1 job — the buffer write; nothing
  reads the buffer back.
- one rule, nothing matches (evals empty): 3 jobs — the buffer write
  and the evaluations write, which is the evaluation's shuffle-map job
  plus the write job. The buffer is read back with its known schema
  (no inference job), and the write's Observation reports zero rows,
  so no alerts write or control collect follows.
- the eca_loop shape (W1 + W2 + W3 rules, a spawning parent that
  fires, a ``processTime`` column): 7 jobs — the latency side-output,
  the buffer write, the evaluations write (the W1 window shuffle, the
  W2/W3 aggregation shuffle, the write), the alerts write and ONE
  control collect for the spawn pairs and the emission watermarks.
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


def test_single_rule_no_match_three_jobs_per_batch(spark, tmp_path):
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
    assert jobs <= 3, (
        f"single-rule no-emission micro-batch ran {jobs} "
        "jobs (budget: 3 — buffer write, evaluation shuffle-map and "
        "evaluations write); see tools/profile_batch.py"
    )


def _rule(qid, window_ms, freq_ms, agg, limit, **extra) -> str:
    return json.dumps(
        {
            "queryId": qid,
            "queryState": "ACTIVE",
            "lastTime": -1,
            "windowMilliseconds": window_ms,
            "frequencyMilliseconds": freq_ms,
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [],
            "aggregatorFunctionType": agg,
            "limitOperatorType": ">",
            "limit": limit,
            "aggregateFieldName": "speed",
            **extra,
        }
    )


def test_eca_shaped_steady_batch_seven_jobs(spark, tmp_path):
    """One steady batch of the eca_loop shape, side writes included."""
    child = json.loads(_rule(900, 5_000, None, "MAX", 150.0))
    reg = RuleRegistry()
    for r in (
        _rule(1, 10_000, None, "AVG", 100.0, alertRules=[child]),  # W2, spawns
        _rule(2, 30_000, 10_000, "SUM", 1e6),  # W3
        _rule(3, 5_000, 0, "MAX", 99.0),  # W1
    ):
        reg.apply_json(r)
    pipe = ActivePipeline(spark=spark, registry=reg, work_dir=str(tmp_path / "wk"))

    def batch(i):
        # 20 s of event time per batch; car 1 always speeds
        return spark.createDataFrame(
            [(c, 20_000 * i + 500 * k, 120.0 if c == 1 else 50.0)
             for k in range(40) for c in (1, 2, 3)],
            "carId int, ms long, speed double",
        ).select(
            "carId",
            F.timestamp_millis("ms").alias("ts"),
            F.current_timestamp().alias("processTime"),
            "speed",
        )

    for i in range(3):  # spawn in batch 0, the child evaluates from 1
        pipe.process_batch(batch(i), i)
    assert pipe.metrics["rules_spawned"] == 1
    alerts0 = pipe.alerts().count()
    jobs = _jobs(spark, pipe, batch(3), 3)
    assert pipe.alerts().count() > alerts0  # the parent fired again
    assert pipe.latency().filter("latency_ms IS NOT NULL").count() == 4 * 120
    # pinned, not just bounded: fewer than 7 means either a cut (pin
    # the new count) or side-write jobs escaping the batch's job group
    assert jobs == 7, (
        f"eca-shaped steady micro-batch ran {jobs} jobs (budget: 7 — "
        "latency, buffer write, 3 for the evaluations write, alerts "
        "write, control collect); see tools/profile_batch.py RULES=eca"
    )
