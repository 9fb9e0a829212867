"""The event buffer is read back with the schema the pipeline already
knows (the batch's own, plus the ``_batch`` and ``_bucket`` partition
columns) instead of inferring it from a file footer. These cases pin
what that read does when the event schema is not one fixed thing: a
rule evaluates over the values the batches carried, or the batch
quarantines the rule or raises with a message — a buffered value never
silently reads back as NULL."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)


def _rule(qid: int, filters=(), keys=("carId",)) -> str:
    return json.dumps(
        {
            "queryId": qid,
            "queryState": "ACTIVE",
            "lastTime": -1,
            "windowMilliseconds": 10_000,
            "frequencyMilliseconds": None,
            "groupingKeyNames": list(keys),
            "windowFilterRules": [
                {"field": f, "operator": op, "value": v} for f, op, v in filters
            ],
            "aggregatorFunctionType": "SUM",
            "limitOperatorType": ">",
            "limit": 100,
            "aggregateFieldName": "speed",
        }
    )


def _events(spark, rows, schema="carId int, ts timestamp, speed double"):
    """rows: (carId, sec_offset, speed, *extra columns)"""
    return spark.createDataFrame(
        [(c, BASE + dt.timedelta(seconds=s), float(v), *rest) for c, s, v, *rest in rows],
        schema,
    )


def _evals(pipe) -> list[tuple]:
    return sorted(
        (r.query_id, r.key, r.window_start, r.agg_value, r.fired)
        for r in pipe.evaluations().collect()
    )


def _pipe(spark, tmp_path, *rules) -> ActivePipeline:
    reg = RuleRegistry()
    for r in rules:
        reg.apply_json(r)
    return ActivePipeline(spark=spark, registry=reg, work_dir=str(tmp_path / "wk"))


def test_timestamp_ntz_event_time_raises_before_any_write(spark, tmp_path):
    """Event-time math is epoch-millis of a TIMESTAMP (an instant); a
    TIMESTAMP_NTZ event-time column has no instant, so the batch raises
    naming the type before it writes anything — the buffer, the sinks
    and the watermarks stay as they were."""
    ntz = "carId int, ts timestamp_ntz, speed double"
    pipe = _pipe(spark, tmp_path, _rule(1))
    with pytest.raises(Exception, match="TIMESTAMP_NTZ"):
        pipe.process_batch(_events(spark, [(1, 1, 60.0)], ntz), 0)
    wk = tmp_path / "wk"
    assert not (wk / "event_buffer").exists()
    assert not (wk / "evaluations").exists()
    assert not (wk / "emitted_watermarks.json").exists()
    assert pipe.evaluations().count() == 0


def test_column_added_mid_stream_rule_on_it_evaluates(spark, tmp_path):
    """A column that first appears in batch 1 is readable for the rule
    registered on it then: batch 0's rows read it as NULL (they never
    carried it), batch 1's rows keep their values."""
    pipe = _pipe(spark, tmp_path)
    pipe.process_batch(_events(spark, [(1, 1, 500.0)]), 0)
    pipe.registry.apply_json(_rule(7, filters=[("lane", "=", "fast")]))
    wide = "carId int, ts timestamp, speed double, lane string"
    pipe.process_batch(
        _events(spark, [(1, 2, 80.0, "fast"), (1, 3, 40.0, "fast"), (1, 4, 9.0, "slow")], wide),
        1,
    )
    pipe.process_batch(_events(spark, [(1, 15, 1.0, "slow")], wide), 2)
    assert "quarantined" not in pipe.metrics
    assert _evals(pipe) == [(7, "{carId=1}", BASE, 120.0, True)]


def test_int_widened_to_bigint_across_batches(spark, tmp_path):
    """A key column written as int by batch 0 and as bigint by batch 1
    reads back whole: batch 0's values are not lost to NULL."""
    pipe = _pipe(spark, tmp_path, _rule(1))
    pipe.process_batch(_events(spark, [(1, 1, 60.0), (2, 2, 30.0)]), 0)
    pipe.process_batch(
        _events(spark, [(1, 3, 50.0), (2, 12, 1.0)], "carId bigint, ts timestamp, speed double"),
        1,
    )
    assert _evals(pipe) == [
        (1, "{carId=1}", BASE, 110.0, True),
        (1, "{carId=2}", BASE, 30.0, False),
    ]


def test_narrowed_column_raises_with_message(spark, tmp_path):
    """The reverse change — bigint buffered, int arriving — cannot be
    read back as int without losing values, so the batch raises and
    names the column instead of evaluating NULLs."""
    pipe = _pipe(spark, tmp_path, _rule(1))
    pipe.process_batch(
        _events(spark, [(1, 1, 60.0)], "carId bigint, ts timestamp, speed double"), 0
    )
    with pytest.raises(Exception, match="carId"):
        pipe.process_batch(_events(spark, [(1, 12, 1.0)]), 1)
