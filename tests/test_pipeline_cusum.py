"""ActivePipeline CUSUM mean-shift gate: integrates small persistent
bias the PSI gate is least sensitive to; replay-idempotent; carries
state across quiet batches; janitors old snapshots."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry
from activedatawarehouseprototype_spark.streaming.stages import CusumGate


def _reg():
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
                "windowFilterRules": [],
                "aggregatorFunctionType": "AVG",
                "limitOperatorType": ">",
                "limit": 1e12,  # never fires; gates are what's under test
                "aggregateFieldName": "speed",
            }
        )
    )
    return reg


def _batch(spark, batch_idx, mean, n=200):
    base = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=batch_idx)
    rows = [
        (i % 5, base + dt.timedelta(milliseconds=i * 10), float(mean + (i % 3) - 1))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "carId int, ts timestamp, speed double")


def _pipe(spark, tmp_path, **kw):
    return ActivePipeline(
        spark=spark,
        registry=_reg(),
        work_dir=str(tmp_path / "work"),
        stages=[CusumGate("speed", 50.0, slack=1.0, threshold=5.0, **kw)],
    )


def _scores(pipe):
    return pipe.stage_output(pipe.stages[0])


def test_construction_requires_both_halves():
    with pytest.raises(TypeError, match="target"):
        CusumGate("speed")


@pytest.mark.slow
def test_stable_stream_quiet_planted_shift_alarms(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    # 4 on-target batches (mean 50): the slack absorbs noise, no alarm
    for b in range(4):
        pipe.process_batch(_batch(spark, b, mean=50), b)
    scores = _scores(pipe).orderBy("batch").collect()
    assert all(not r["alarm"] for r in scores)
    # small persistent +3 shift: each batch adds ~(3 - slack) = 2 to
    # s_pos; alarm (threshold 5) within 3 shifted batches
    for b in range(4, 8):
        pipe.process_batch(_batch(spark, b, mean=53), b)
    last = _scores(pipe).filter(F.col("batch") == 7).collect()[0]
    assert last["s_pos"] > 5.0 and last["alarm"]
    # the walk accumulated monotonically through the shift
    s = [
        r["s_pos"]
        for r in _scores(pipe).filter(F.col("batch") >= 4).orderBy("batch").collect()
    ]
    assert s == sorted(s)


def test_replay_is_idempotent(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    for b in range(3):
        pipe.process_batch(_batch(spark, b, mean=55), b)
    before = sorted(
        tuple(r) for r in _scores(pipe).filter(F.col("batch") == 2).collect()
    )
    # foreachBatch re-delivers the LATEST batch after a crash
    pipe.process_batch(_batch(spark, 2, mean=55), 2)
    after = sorted(
        tuple(r) for r in _scores(pipe).filter(F.col("batch") == 2).collect()
    )
    assert before == after


def test_groups_and_quiet_slice_carries_state(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, group_cols=["carId"])
    pipe.process_batch(_batch(spark, 0, mean=54), 0)
    # batch 1 contains ONLY carId 0 (still shifted)
    only0 = _batch(spark, 1, mean=54).filter(F.col("carId") == 0)
    pipe.process_batch(only0, 1)
    b1 = {r["carId"]: r for r in _scores(pipe).filter(F.col("batch") == 1).collect()}
    assert set(b1) == {0, 1, 2, 3, 4}
    # carId 0 advanced; the quiet slices carried batch-0 state forward
    b0 = {r["carId"]: r for r in _scores(pipe).filter(F.col("batch") == 0).collect()}
    assert b1[0]["s_pos"] > b0[0]["s_pos"]
    for k in (1, 2, 3, 4):
        assert b1[k]["s_pos"] == b0[k]["s_pos"] and b1[k]["batch_rows"] == 0


@pytest.mark.slow
def test_state_janitor_keeps_recent_only(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    retain = CusumGate.STATE_RETAIN
    for b in range(retain + 4):
        pipe.process_batch(_batch(spark, b, mean=50, n=40), b)
    kept = sorted(
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(pipe.work_dir, "cusum_state"))
        if d.startswith("batch=")
    )
    assert min(kept) >= retain + 3 - retain
    assert max(kept) == retain + 3
    # scores for ALL batches remain readable
    assert _scores(pipe).select("batch").distinct().count() == retain + 4
