"""ActivePipeline MAD outlier-burst gate: catches the burst of
individually-extreme rows that cancels out of the mean (invisible to
CUSUM) and barely moves the histogram; stateless per batch and
replay-idempotent by construction."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry
from activedatawarehouseprototype_spark.streaming.stages import MadGate


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
                "limit": 1e12,  # never fires; the gate is under test
                "aggregateFieldName": "speed",
            }
        )
    )
    return reg


def _batch(spark, batch_idx, n=200, outlier_every=None):
    """In-control speeds hug 50 +- 1; ``outlier_every=k`` makes every
    k-th row a SYMMETRIC +-200 excursion, so the batch MEAN stays ~50
    (invisible to a mean-shift gate) while the outlier fraction is
    ~1/k."""
    base = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=batch_idx)
    rows = []
    for i in range(n):
        v = 50.0 + (i % 3) - 1
        if outlier_every and i % outlier_every == 0:
            v = 250.0 if (i // outlier_every) % 2 == 0 else -150.0
        rows.append((i % 5, base + dt.timedelta(milliseconds=i * 10), v))
    return spark.createDataFrame(rows, "carId int, ts timestamp, speed double")


def _pipe(spark, tmp_path, **kw):
    return ActivePipeline(
        spark=spark,
        registry=_reg(),
        work_dir=str(tmp_path / "work"),
        stages=[MadGate("speed", 50.0, 1.0, z=3.0, max_outlier_frac=0.05, **kw)],
    )


def _scores(pipe):
    return pipe.stage_output(pipe.stages[0])


def test_construction_requires_full_trio_and_positive_scale():
    with pytest.raises(TypeError, match="scale"):
        MadGate("speed", 50.0)
    with pytest.raises(ValueError, match="MAD scale"):
        MadGate("speed", 50.0, 0.0)


def test_burst_alarms_while_mean_stays_put(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.process_batch(_batch(spark, 0), 0)  # in control
    burst = _batch(spark, 1, outlier_every=10)  # ~10% symmetric outliers
    # the burst is mean-invisible: batch mean stays within noise of 50
    m = burst.agg(F.avg("speed")).collect()[0][0]
    assert abs(m - 50.0) < 3.0
    pipe.process_batch(burst, 1)
    scores = {r["batch"]: r for r in _scores(pipe).collect()}
    assert scores[0]["alarm"] is False
    assert scores[0]["n_outliers"] == 0
    assert scores[1]["alarm"] is True
    assert scores[1]["outlier_frac"] == pytest.approx(0.1)


def test_replay_is_idempotent(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    b = _batch(spark, 0, outlier_every=20)
    pipe.process_batch(b, 0)
    first = sorted(map(tuple, _scores(pipe).collect()))
    pipe.process_batch(b, 0)  # foreachBatch redelivery
    assert sorted(map(tuple, _scores(pipe).collect())) == first


def test_per_slice_scoring(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, group_cols=["carId"])
    base = dt.datetime(2024, 1, 1)
    rows = [(0, base, 50.0), (0, base, 51.0), (1, base, 250.0), (1, base, 49.0)]
    pipe.process_batch(
        spark.createDataFrame(rows, "carId int, ts timestamp, speed double"), 0
    )
    by_car = {r["carId"]: r for r in _scores(pipe).collect()}
    assert by_car[0]["alarm"] is False
    assert by_car[1]["alarm"] is True and by_car[1]["n_outliers"] == 1
