"""Streaming distribution-drift gate (stages.DriftGate on ActivePipeline):
reference warm-up, stable-batch vs shifted-batch scoring, replay
idempotence, group slicing, and the fail-at-construction contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.streaming import stages
from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry
from activedatawarehouseprototype_spark.streaming.stages import DriftGate


def _pipe(spark, tmp_path, **kw):
    return ActivePipeline(
        spark=spark,
        registry=RuleRegistry(),
        work_dir=str(tmp_path / "wk"),
        stages=[DriftGate("speed", (0.0, 100.0, 10), min_ref_rows=50, **kw)],
    )


def _scores(pipe):
    return pipe.stage_output(pipe.stages[0])


def _batch(spark, values, base_ms=1_000):
    rows = [(1, base_ms + i, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(
        rows, "carId int, ms long, speed double"
    ).select("carId", F.timestamp_millis("ms").alias("ts"), "speed")


def test_warmup_then_stable_then_shift(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    ref = [v % 100 for v in range(200)]  # uniform 0..99
    pipe.process_batch(_batch(spark, ref), 0)
    # batch 0: no prior reference -> no score rows yet
    assert _scores(pipe).count() == 0

    # batch 1: same distribution -> scored, not drifted
    pipe.process_batch(_batch(spark, ref), 1)
    s1 = _scores(pipe).filter("batch = 1").collect()
    assert len(s1) == 1
    assert s1[0]["psi"] == pytest.approx(0.0, abs=1e-9)
    assert not s1[0]["drifted"]
    assert s1[0]["n_ref"] == 200 and s1[0]["n_cur"] == 200

    # batch 2: mass concentrated in one bin -> strong drift
    pipe.process_batch(_batch(spark, [55.0] * 200), 2)
    s2 = _scores(pipe).filter("batch = 2").collect()[0]
    assert s2["drifted"] and s2["psi"] > 1.0
    # reference for batch 2 = batches 0+1
    assert s2["n_ref"] == 400


def test_replay_scores_identically(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    ref = [v % 100 for v in range(200)]
    pipe.process_batch(_batch(spark, ref), 0)
    pipe.process_batch(_batch(spark, [50.0] * 100), 1)
    first = _scores(pipe).filter("batch = 1").collect()
    # at-least-once replay of batch 1: the history read excludes its
    # own partition, so the score is identical, not reference-polluted
    pipe.process_batch(_batch(spark, [50.0] * 100), 1)
    again = _scores(pipe).filter("batch = 1").collect()
    assert [tuple(r) for r in first] == [tuple(r) for r in again]
    assert len(first) == 1


def test_group_sliced_drift(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, group_cols=["carId"])

    def two_group_batch(vals_a, vals_b, base=1_000):
        rows = [(1, base + i, float(v)) for i, v in enumerate(vals_a)]
        rows += [(2, base + i, float(v)) for i, v in enumerate(vals_b)]
        return spark.createDataFrame(
            rows, "carId int, ms long, speed double"
        ).select("carId", F.timestamp_millis("ms").alias("ts"), "speed")

    uni = [v % 100 for v in range(100)]
    pipe.process_batch(two_group_batch(uni, uni), 0)
    # car 1 stays stable, car 2 shifts
    pipe.process_batch(two_group_batch(uni, [90.0] * 100), 1)
    got = {
        r["carId"]: r for r in _scores(pipe).filter("batch = 1").collect()
    }
    assert not got[1]["drifted"]
    assert got[2]["drifted"]


def test_below_min_ref_rows_not_scored(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)  # min_ref_rows = 50
    pipe.process_batch(_batch(spark, [1.0] * 10), 0)
    pipe.process_batch(_batch(spark, [99.0] * 10), 1)  # ref only 10 rows
    assert _scores(pipe).count() == 0


def test_half_specified_config_raises():
    with pytest.raises(TypeError, match="bins"):
        DriftGate("speed")
    with pytest.raises(ValueError, match="drift bins"):
        DriftGate("speed", (10.0, 10.0, 5))


def test_stages_writing_one_directory_rejected(spark, tmp_path):
    """Two DriftGates on different columns would overwrite each other's
    drift/ output, so the pipeline refuses the list at construction."""
    with pytest.raises(ValueError, match="drift"):
        ActivePipeline(
            spark=spark,
            registry=RuleRegistry(),
            work_dir=str(tmp_path / "wk"),
            stages=[
                DriftGate("speed", (0.0, 100.0, 10)),
                DriftGate("carId", (0.0, 10.0, 10)),
            ],
        )


def test_history_compaction_preserves_scores_and_replay(spark, tmp_path, monkeypatch):
    """Every HISTORY_FOLD_EVERY batches the prior partials fold into
    the batch=-1 base: scoring is unchanged, directory count stays
    bounded, and replaying the compacting batch still scores
    identically."""
    import os

    pipe = _pipe(spark, tmp_path)
    monkeypatch.setattr(stages, "HISTORY_FOLD_EVERY", 2)  # compact at batch 2
    ref = [v % 100 for v in range(100)]
    pipe.process_batch(_batch(spark, ref), 0)
    pipe.process_batch(_batch(spark, ref), 1)
    pipe.process_batch(_batch(spark, ref), 2)  # compacts 0+1 into base
    dirs = sorted(
        d
        for d in os.listdir(os.path.join(pipe.work_dir, "drift_history"))
        if d.startswith("batch=")
    )
    assert dirs == ["batch=-1", "batch=2"]
    s2 = _scores(pipe).filter("batch = 2").collect()
    assert len(s2) == 1 and s2[0]["n_ref"] == 200  # batches 0+1

    # foreachBatch's at-least-once model re-delivers the LATEST batch
    # (epochs are sequential) — replaying the compacting batch before
    # any newer batch must score identically
    pipe.process_batch(_batch(spark, ref), 2)
    again = _scores(pipe).filter("batch = 2").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in s2]

    # post-compaction batch scores against base + uncompacted partials
    pipe.process_batch(_batch(spark, [50.0] * 100), 3)
    s3 = _scores(pipe).filter("batch = 3").collect()[0]
    assert s3["n_ref"] == 300 and s3["drifted"]
