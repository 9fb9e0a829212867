"""E2E tests of the active (ECA) loop — the reference's two README
scenarios (README.md:71-132) replayed over deterministic telemetry —
plus rule-lifecycle (C1-C7) and the streaming W1 operator's
batch-equivalence (SURVEY §5 strategy)."""

from __future__ import annotations

import datetime as dt
import json
import time

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.rules.compiler import evaluate_rule
from activedatawarehouseprototype_spark.rules.model import Rule, RuleState
from activedatawarehouseprototype_spark.streaming.eca import parse_composite_key
from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)

# README speeding scenario (README.md:71-100), adapted to the fixture
# column names (carId->carId, speed->speed, 10s window, W1).
SPEEDING_RULE = {
    "queryId": 1,
    "queryState": "ACTIVE",
    "lastTime": -1,
    "windowMilliseconds": 10000,
    "frequencyMilliseconds": 0,
    "groupingKeyNames": ["carId"],
    "windowFilterRules": [],
    "aggregatorFunctionType": "AVG",
    "limitOperatorType": ">",
    "limit": 120,
    "aggregateFieldName": "speed",
    "alertRules": [
        {
            "queryId": 2,
            "queryState": "ACTIVE",
            # generous TTL: wall-clock expiry is tested separately with
            # an explicit clock (test_ttl_expiry_and_retrigger_refresh);
            # a short TTL here makes the scenario racy under slow JVM
            # warmup (the child would be swept before its batch).
            "lastTime": 300000,
            "windowMilliseconds": 5000,
            "frequencyMilliseconds": 0,
            "groupingKeyNames": ["$carId"],
            "windowFilterRules": [],
            "aggregatorFunctionType": "MAX",
            "limitOperatorType": ">",
            "limit": 10,
            "aggregateFieldName": "speed",
        }
    ],
}


def car_df(spark, rows):
    """rows: (carId, sec_offset, speed)"""
    return spark.createDataFrame(
        [(c, BASE + dt.timedelta(seconds=s), float(v)) for (c, s, v) in rows],
        "carId int, ts timestamp, speed double",
    )


@pytest.fixture()
def pipeline(spark, tmp_path):
    reg = RuleRegistry(persist_path=str(tmp_path / "rules.jsonl"))
    return ActivePipeline(spark=spark, registry=reg, work_dir=str(tmp_path / "wk"))


def test_readme_speeding_scenario_spawns_and_fires(spark, pipeline):
    reg = pipeline.registry
    reg.apply_json(json.dumps(SPEEDING_RULE))
    assert len(reg.active()) == 1

    # batch 1: car 9 speeds (avg 130 > 120) → rule 1 fires → child spawned
    b1 = car_df(spark, [(7, 0, 100.0), (9, 1, 125.0), (9, 3, 135.0)])
    pipeline.process_batch(b1, 0)

    alerts1 = pipeline.alerts().filter("query_id = 1").collect()
    assert {r.key for r in alerts1} == {"{carId=9}"}

    spawned = [r for r in reg.active() if r.active_id == 1]
    assert len(spawned) == 1
    child = spawned[0]
    assert child.grouping_key_names == ["carId"]  # $ stripped (C6)
    assert any(
        f.field == "carId" and f.value == "9" and f.operator.value == "="
        for f in child.window_filter_rules
    )
    assert child.query_id not in (1, 2)  # fresh snowflake id
    assert child.active_time is not None  # TTL armed

    # batch 2: child (MAX speed > 10 for carId=9) fires per event;
    # car 7's fast event must NOT fire the child (filter pinned to 9)
    b2 = car_df(spark, [(9, 11, 55.0), (7, 12, 99.0)])
    pipeline.process_batch(b2, 1)
    child_alerts = pipeline.alerts().filter(
        F.col("query_id") == child.query_id
    ).collect()
    assert {r.key for r in child_alerts} == {"{carId=9}"}
    assert all(r.agg_value > 10 for r in child_alerts)


def test_spawn_throttled_on_refire(spark, pipeline):
    reg = pipeline.registry
    reg.apply_json(json.dumps(SPEEDING_RULE))
    pipeline.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    n_after_first = len(reg.rules)
    # same trigger key again → throttle ring suppresses a second child
    pipeline.process_batch(car_df(spark, [(9, 2, 131.0)]), 1)
    assert len(reg.rules) == n_after_first


def test_readme_congestion_scenario_tumbling(spark, pipeline):
    # congestion (README.md:102-132): AVG speed in a lon/lat box over
    # 60s; here the box becomes a speed-range filter on the fixture.
    rule = {
        "queryId": 10,
        "queryState": "ACTIVE",
        "lastTime": -1,
        "windowMilliseconds": 60000,
        "frequencyMilliseconds": None,  # W2 tumbling
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [{"field": "speed", "operator": ">", "value": "20"}],
        "aggregatorFunctionType": "AVG",
        "limitOperatorType": ">",
        "limit": 100,
        "aggregateFieldName": "speed",
    }
    pipeline.registry.apply_json(json.dumps(rule))
    pipeline.process_batch(
        car_df(spark, [(1, 0, 150.0), (1, 10, 110.0), (2, 20, 30.0), (1, 30, 10.0)]),
        0,
    )
    # finalized-window append semantics: the [0,60s) window is still
    # OPEN after batch 0 (max event ts 30s < window end) — nothing
    # emitted yet, so a later event in the same window still counts.
    assert pipeline.evaluations().count() == 0
    # batch 1 advances the event-time watermark past 60s → closes it
    pipeline.process_batch(car_df(spark, [(3, 70, 25.0)]), 1)
    evals = pipeline.evaluations().filter("query_id = 10").collect()
    by_key = {r.key: r for r in evals}
    assert by_key["{carId=1}"].agg_value == 130.0  # (150+110)/2; 10 filtered out
    assert by_key["{carId=1}"].fired is True
    assert by_key["{carId=2}"].fired is False
    # car 3's own [60s,120s) window is still open → not emitted
    assert "{carId=3}" not in by_key


def test_ttl_expiry_and_retrigger_refresh(spark):
    reg = RuleRegistry()
    now = int(time.time() * 1000)
    child = Rule.from_dict(
        {
            "queryId": 5,
            "queryState": "ACTIVE",
            "lastTime": 10000,
            "activeTime": now + 10000,
            "activeId": 1,
            "windowFilterRules": [{"field": "carId", "operator": "=", "value": "9"}],
            "groupingKeyNames": ["carId"],
            "aggregateFieldName": "speed",
            "aggregatorFunctionType": "MAX",
            "windowMilliseconds": 5000,
        }
    )
    reg.apply(child, now)
    # re-trigger: same (filters, activeId) → id reused, expiry refreshed (C2)
    retrig = Rule.from_dict(child.to_dict())
    retrig.query_id = 999
    reg.apply(retrig, now + 5000)
    assert set(reg.rules) == {5}
    assert reg.rules[5].active_time == now + 15000
    # TTL expiry (C3/F4)
    assert reg.sweep_expired(now + 14000) == []
    expired = reg.sweep_expired(now + 16000)
    assert [r.query_id for r in expired] == [5]
    assert reg.rules == {}


def test_control_verbs(spark):
    reg = RuleRegistry()
    reg.apply_json(json.dumps(SPEEDING_RULE))
    reg.apply_json(
        '{"queryState":"CONTROL","controlType":"EXPORT_RULES_CURRENT"}'
    )
    assert [r.query_id for r in reg.exported] == [1]
    reg.apply_json('{"queryState":"CONTROL","controlType":"CLEAR_STATE_ALL"}')
    assert reg.clear_state_requested
    reg.apply_json('{"queryState":"CONTROL","controlType":"DELETE_RULES_ALL"}')
    assert reg.rules == {}


def test_registry_persistence_roundtrip(tmp_path):
    path = str(tmp_path / "rules.jsonl")
    reg = RuleRegistry(persist_path=path)
    reg.apply_json(json.dumps(SPEEDING_RULE))
    reloaded = RuleRegistry.load(path)
    assert set(reloaded.rules) == {1}
    assert reloaded.rules[1].alert_rules[0].grouping_key_names == ["$carId"]


def test_parse_composite_key():
    assert parse_composite_key("{carId=9}") == {"carId": "9"}
    assert parse_composite_key("{a=1;b=x}") == {"a": "1", "b": "x"}


def test_pause_rules_not_evaluated(spark, pipeline):
    rule = dict(SPEEDING_RULE, queryState="PAUSE", alertRules=[])
    pipeline.registry.apply_json(json.dumps(rule))
    assert pipeline.registry.active() == []
    pipeline.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    assert pipeline.alerts().count() == 0


def test_w1_stream_matches_batch_range_frame(spark, tmp_path):
    """Batch-equivalence (SURVEY §5): the applyInPandasWithState W1
    operator must agree with the compiler's RANGE-frame batch W1."""
    from activedatawarehouseprototype_spark.streaming.per_event_window import w1_stream

    rule = Rule.from_dict(
        {
            "queryId": 42,
            "queryState": "ACTIVE",
            "windowMilliseconds": 10000,
            "frequencyMilliseconds": 0,
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [],
            "aggregatorFunctionType": "AVG",
            "limitOperatorType": ">",
            "limit": 120,
            "aggregateFieldName": "speed",
        }
    )
    rows = [
        (9, 0, 100.0),
        (9, 4, 140.0),
        (9, 9, 150.0),
        (9, 25, 90.0),
        (7, 2, 121.0),
        (7, 30, 200.0),
    ]
    df = car_df(spark, rows)
    data_dir = str(tmp_path / "events")
    df.repartition(1).write.parquet(data_dir)

    stream = spark.readStream.schema(df.schema).parquet(data_dir)
    out = w1_stream(stream, rule)
    q = (
        out.writeStream.format("memory")
        .queryName("w1_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.event_ts_ms): (round(r.agg_value, 9), r.fired)
        for r in spark.sql("SELECT * FROM w1_out").collect()
    }

    batch = evaluate_rule(df, rule, ts_col="ts")
    want = {
        (r.key, int(r.window_end.timestamp() * 1000)): (round(r.agg_value, 9), r.fired)
        for r in batch.collect()
    }
    assert got == want
    assert len(got) == len(rows)


def test_windowed_rule_stream_matches_batch(spark, tmp_path):
    """Native watermarked W2 streaming agg (complete mode) must equal
    the batch-compiled evaluation of the same rule."""
    from activedatawarehouseprototype_spark.streaming.windowed import (
        windowed_rule_stream,
    )
    from activedatawarehouseprototype_spark.rules.model import Rule

    rule = Rule.from_dict(
        {
            "queryId": 77,
            "queryState": "ACTIVE",
            "windowMilliseconds": 60000,
            "frequencyMilliseconds": None,
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [{"field": "speed", "operator": ">", "value": "20"}],
            "aggregatorFunctionType": "AVG",
            "limitOperatorType": ">",
            "limit": 100,
            "aggregateFieldName": "speed",
        }
    )
    df = car_df(
        spark,
        [(1, 0, 150.0), (1, 10, 110.0), (2, 20, 30.0), (1, 70, 80.0), (2, 80, 140.0)],
    )
    data_dir = str(tmp_path / "wevents")
    df.repartition(1).write.parquet(data_dir)
    stream = spark.readStream.schema(df.schema).parquet(data_dir)
    out = windowed_rule_stream(stream, rule)
    q = (
        out.writeStream.format("memory")
        .queryName("w2_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wchk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.window_start, r.window_end): (r.agg_value, r.fired)
        for r in spark.sql("SELECT * FROM w2_out").collect()
    }
    want = {
        (r.key, r.window_start, r.window_end): (r.agg_value, r.fired)
        for r in evaluate_rule(df, rule, ts_col="ts").collect()
    }
    assert got == want and len(got) > 0


def test_rules_dir_midstream_registration(spark, tmp_path):
    """S1/S3 parity: a rule JSON file dropped into the watched dir
    between micro-batches takes effect on the next batch."""
    rules_dir = tmp_path / "rules"
    rules_dir.mkdir()
    reg = RuleRegistry()
    pipe = ActivePipeline(
        spark=spark,
        registry=reg,
        work_dir=str(tmp_path / "wk"),
        rules_dir=str(rules_dir),
    )
    # batch 0: no rules yet
    pipe.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    assert pipe.alerts().count() == 0
    # drop a rule file, then batch 1 sees it (evaluates the buffered
    # event too, since it is still inside the widest window)
    (rules_dir / "r1.json").write_text(
        json.dumps(dict(SPEEDING_RULE, alertRules=[])) + "\n"
    )
    pipe.process_batch(car_df(spark, [(9, 2, 140.0)]), 1)
    assert len(reg.active()) == 1
    alerts = pipe.alerts().collect()
    assert alerts and all(r.key == "{carId=9}" for r in alerts)


def test_mixed_mode_rules_one_pipeline(spark, pipeline):
    """W0 + W1 + W2 rules evaluated together over the same batches."""
    reg = pipeline.registry
    base_rule = {
        "queryState": "ACTIVE",
        "lastTime": -1,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "AVG",
        "limitOperatorType": ">",
        "limit": 120,
        "aggregateFieldName": "speed",
    }
    reg.apply_json(json.dumps(dict(base_rule, queryId=1, windowMilliseconds=0)))  # W0
    reg.apply_json(
        json.dumps(dict(base_rule, queryId=2, windowMilliseconds=10000,
                        frequencyMilliseconds=0))
    )  # W1
    reg.apply_json(
        json.dumps(dict(base_rule, queryId=3, windowMilliseconds=60000))
    )  # W2
    pipeline.process_batch(car_df(spark, [(9, 1, 130.0), (9, 3, 110.0)]), 0)
    # W2 windows wait until the event-time watermark closes them; a
    # second batch past the 60s boundary closes [0,60s).
    pipeline.process_batch(car_df(spark, [(9, 70, 50.0)]), 1)
    evals = pipeline.evaluations().collect()
    by_rule = {}
    for r in evals:
        by_rule.setdefault(r.query_id, []).append(r)
    assert len(by_rule[1]) == 3  # W0: one row per event, never fired
    assert all(not r.fired and r.agg_value == 0.0 for r in by_rule[1])
    assert len(by_rule[2]) == 3  # W1: per-event trailing aggregate
    assert {round(r.agg_value, 1) for r in by_rule[2]} == {130.0, 120.0, 50.0}
    assert len(by_rule[3]) == 1  # W2: the closed [0,60s) window only
    assert by_rule[3][0].agg_value == 120.0 and not by_rule[3][0].fired


def test_clear_state_all_resets_buffer(spark, pipeline):
    reg = pipeline.registry
    rule = {
        "queryId": 5,
        "queryState": "ACTIVE",
        "lastTime": -1,
        "windowMilliseconds": 60000,
        "frequencyMilliseconds": 0,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "COUNT" if False else "SUM",
        "aggregateFieldName": "COUNT_FLINK",
        "limitOperatorType": ">",
        "limit": 1,
    }
    reg.apply_json(json.dumps(rule))
    pipeline.process_batch(car_df(spark, [(9, 1, 100.0)]), 0)
    # CLEAR_STATE_ALL wipes the event buffer: the next batch's trailing
    # count restarts at 1 even though both events share the window.
    reg.apply_json('{"queryState":"CONTROL","controlType":"CLEAR_STATE_ALL"}')
    pipeline.process_batch(car_df(spark, [(9, 2, 100.0)]), 1)
    evals = sorted(
        pipeline.evaluations().collect(), key=lambda r: r.window_end
    )
    assert [r.agg_value for r in evals] == [1.0, 1.0]  # no carry-over


def test_pause_then_reactivate(spark, pipeline):
    reg = pipeline.registry
    rule = dict(SPEEDING_RULE, alertRules=[])
    reg.apply_json(json.dumps(dict(rule, queryState="PAUSE")))
    pipeline.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    assert pipeline.alerts().count() == 0
    reg.apply_json(json.dumps(rule))  # re-apply as ACTIVE (same id)
    pipeline.process_batch(car_df(spark, [(9, 2, 140.0)]), 1)
    assert pipeline.alerts().count() > 0


def test_eca_grandchild_chain(spark, pipeline):
    """Nested alertRules: a spawned child carries its OWN child
    template, so firing the child spawns a grandchild (rule chains)."""
    rule = {
        "queryId": 1,
        "queryState": "ACTIVE",
        "lastTime": -1,
        "windowMilliseconds": 10000,
        "frequencyMilliseconds": 0,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "AVG",
        "limitOperatorType": ">",
        "limit": 120,
        "aggregateFieldName": "speed",
        "alertRules": [
            {
                "queryId": 2,
                "queryState": "ACTIVE",
                "lastTime": -1,
                "windowMilliseconds": 5000,
                "frequencyMilliseconds": 0,
                "groupingKeyNames": ["$carId"],
                "windowFilterRules": [],
                "aggregatorFunctionType": "MAX",
                "limitOperatorType": ">",
                "limit": 50,
                "aggregateFieldName": "speed",
                "alertRules": [
                    {
                        "queryId": 3,
                        "queryState": "ACTIVE",
                        "lastTime": -1,
                        "windowMilliseconds": 2000,
                        "frequencyMilliseconds": 0,
                        "groupingKeyNames": ["$carId"],
                        "windowFilterRules": [],
                        "aggregatorFunctionType": "SUM",
                        "limitOperatorType": ">",
                        "limit": 0,
                        "aggregateFieldName": "speed",
                    }
                ],
            }
        ],
    }
    reg = pipeline.registry
    reg.apply_json(json.dumps(rule))
    pipeline.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)  # fires 1 → child
    child = next(r for r in reg.active() if r.active_id == 1)
    assert child.alert_rules, "child must carry the grandchild template"
    pipeline.process_batch(car_df(spark, [(9, 11, 60.0)]), 1)  # fires child
    grandchild = [r for r in reg.active() if r.active_id == child.query_id]
    assert len(grandchild) == 1
    assert any(
        f.field == "carId" and f.value == "9"
        for f in grandchild[0].window_filter_rules
    )
    pipeline.process_batch(car_df(spark, [(9, 21, 5.0)]), 2)  # fires grandchild
    assert pipeline.alerts().filter(
        F.col("query_id") == grandchild[0].query_id
    ).count() > 0


def test_buffer_prune_preserves_semantics(spark, pipeline):
    """Append-mode buffer with periodic prune: trailing-window results
    must not depend on prune timing (PRUNE_EVERY boundary crossed)."""
    reg = pipeline.registry
    reg.apply_json(
        json.dumps(
            {
                "queryId": 8,
                "queryState": "ACTIVE",
                "lastTime": -1,
                "windowMilliseconds": 3_600_000,
                "frequencyMilliseconds": 0,
                "groupingKeyNames": ["carId"],
                "windowFilterRules": [],
                "aggregatorFunctionType": "SUM",
                "limitOperatorType": ">",
                "limit": 1e12,
                "aggregateFieldName": "speed",
            }
        )
    )
    for i in range(10):  # crosses the PRUNE_EVERY=8 boundary
        pipeline.process_batch(car_df(spark, [(9, i * 10, 10.0)]), i)
    evals = sorted(
        pipeline.evaluations().collect(), key=lambda r: r.window_end
    )
    # trailing 1h window keeps everything: SUM must be 10,20,...,100
    assert [r.agg_value for r in evals] == [10.0 * (i + 1) for i in range(10)]


def test_buffer_event_time_partition_pruning(spark, tmp_path):
    """The buffer is partitioned by event-time bucket and retention is
    pushed onto the partition column: once the watermark advances, the
    readable buffer touches FEWER FILES than live in the directory
    (file-granularity pruning, not row filtering) — the property that
    keeps the every-batch buffer read O(live window) at 100 TB."""
    import os as _os

    reg = RuleRegistry(persist_path=str(tmp_path / "rules.jsonl"))
    p = ActivePipeline(
        spark=spark,
        registry=reg,
        work_dir=str(tmp_path / "wk"),
        buffer_bucket_ms=1000,  # 1s buckets so a short test spans many
    )
    reg.apply_json(
        json.dumps(
            {
                "queryId": 1,
                "queryState": "ACTIVE",
                "lastTime": -1,
                "windowMilliseconds": 2000,
                "frequencyMilliseconds": 0,
                "groupingKeyNames": ["carId"],
                "windowFilterRules": [],
                "aggregatorFunctionType": "MAX",
                "limitOperatorType": ">",
                "limit": 1e12,
                "aggregateFieldName": "speed",
            }
        )
    )
    p.process_batch(car_df(spark, [(1, 0, 10.0), (1, 1, 20.0)]), 0)
    p.process_batch(car_df(spark, [(1, 10, 30.0)]), 1)
    p.process_batch(car_df(spark, [(1, 20, 40.0)]), 2)
    # 4th append outside process_batch so we can inspect the returned
    # readable buffer (mirror the batch-count bump process_batch does)
    p._batch_count += 1
    buf = p._update_buffer(car_df(spark, [(1, 30, 50.0)]), 3)

    # retention semantics: horizon = prev_wm(30s... no: 20s) - 2s window
    # → only the 20s and 30s events remain readable
    secs = sorted((r.ts - BASE).total_seconds() for r in buf.collect())
    assert secs == [20.0, 30.0]
    assert p.BUCKET_COL not in buf.columns

    # file-granularity pruning: the directory holds buckets 0,1,10,20,30
    # but the retained read may only touch the 20s/30s buckets
    all_files = [
        f
        for _, _, fs in _os.walk(p.buffer_path)
        for f in fs
        if f.endswith(".parquet")
    ]
    touched = buf.select(F.input_file_name()).distinct().count()
    assert touched < len(all_files), (touched, len(all_files))

    # plan-level: the retention predicate reached PartitionFilters
    plan = buf._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and p.BUCKET_COL in plan


def test_bad_rule_quarantined_not_fatal(spark, pipeline):
    """A rule naming a nonexistent field is PAUSEd; healthy rules keep
    evaluating in the same batch."""
    reg = pipeline.registry
    reg.apply_json(json.dumps(dict(SPEEDING_RULE, alertRules=[])))
    reg.apply_json(
        json.dumps(
            {
                "queryId": 66,
                "queryState": "ACTIVE",
                "lastTime": -1,
                "windowMilliseconds": 10000,
                "frequencyMilliseconds": 0,
                "groupingKeyNames": ["no_such_column"],
                "windowFilterRules": [],
                "aggregatorFunctionType": "AVG",
                "limitOperatorType": ">",
                "limit": 1,
                "aggregateFieldName": "speed",
            }
        )
    )
    pipeline.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    assert pipeline.metrics.get("rule_errors") == 1
    assert pipeline.registry.rules[66].query_state.value == "PAUSE"
    # the paused rule explains itself
    assert "no_such_column" in pipeline.metrics["quarantined"][66]
    assert pipeline.alerts().filter("query_id = 1").count() > 0


def test_rule_naming_internal_batch_column_quarantined(spark, pipeline):
    """The buffer carries the internal ingest-batch column into
    evaluation (born-batch scoping filters on it), so a wire rule
    naming ``_batch`` must FAIL validation and quarantine —
    not pass validation and then blow up the whole micro-batch inside
    the grouped plan (round-11 ADVICE regression)."""
    reg = pipeline.registry
    reg.apply_json(json.dumps(dict(SPEEDING_RULE, alertRules=[])))
    reg.apply_json(
        json.dumps(
            {
                "queryId": 67,
                "queryState": "ACTIVE",
                "lastTime": -1,
                "windowMilliseconds": 10000,
                "frequencyMilliseconds": 0,
                "groupingKeyNames": ["_batch"],
                "windowFilterRules": [],
                "aggregatorFunctionType": "AVG",
                "limitOperatorType": ">",
                "limit": 1,
                "aggregateFieldName": "speed",
            }
        )
    )
    pipeline.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    assert pipeline.metrics.get("rule_errors") == 1
    assert pipeline.registry.rules[67].query_state.value == "PAUSE"
    # the healthy rule evaluated in the same batch — nothing was lost
    assert pipeline.alerts().filter("query_id = 1").count() > 0


def test_pipeline_restart_no_reemission(spark, tmp_path):
    """A restarted pipeline (same work_dir + persisted registry) must
    not re-emit evaluations already delivered before the restart."""
    reg_path = str(tmp_path / "rules.jsonl")
    wk = str(tmp_path / "wk")
    reg = RuleRegistry(persist_path=reg_path)
    reg.apply_json(json.dumps(dict(SPEEDING_RULE, alertRules=[])))
    p1 = ActivePipeline(spark=spark, registry=reg, work_dir=wk)
    p1.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    n_before = p1.evaluations().count()
    assert n_before == 1

    # restart: new pipeline object, reloaded registry, same work_dir
    reg2 = RuleRegistry.load(reg_path)
    p2 = ActivePipeline(spark=spark, registry=reg2, work_dir=wk)
    p2.process_batch(car_df(spark, [(9, 2, 140.0)]), 1)
    evals = sorted(p2.evaluations().collect(), key=lambda r: r.window_end)
    # only ONE new evaluation (the t=2 event); the t=1 evaluation was
    # not re-emitted even though the buffered event is still in window
    assert len(evals) == 2
    assert [round(r.agg_value, 1) for r in evals] == [130.0, 135.0]


def test_fifty_rules_one_batch(spark, pipeline):
    """Rule-set scalability: 50 rules evaluate in one unioned plan."""
    reg = pipeline.registry
    for i in range(50):
        reg.apply_json(
            json.dumps(
                {
                    "queryId": 1000 + i,
                    "queryState": "ACTIVE",
                    "lastTime": -1,
                    "windowMilliseconds": 60000,
                    "frequencyMilliseconds": None,
                    "groupingKeyNames": ["carId"],
                    "windowFilterRules": [
                        {"field": "speed", "operator": ">", "value": str(i)}
                    ],
                    "aggregatorFunctionType": "MAX",
                    "limitOperatorType": ">",
                    "limit": 100,
                    "aggregateFieldName": "speed",
                }
            )
        )
    # the whole 50-rule evaluation must be ONE buffer scan (the
    # reference's single pass, DynamicKeyFunction.java:51-105)
    from activedatawarehouseprototype_spark.plans.explain import parquet_scan_count
    from activedatawarehouseprototype_spark.streaming.group_eval import (
        evaluate_rules_grouped,
    )

    pipeline.process_batch(car_df(spark, [(9, 1, 55.0), (7, 2, 120.0)]), 0)
    buffer = spark.read.parquet(pipeline.buffer_path)
    plan_df = evaluate_rules_grouped(buffer, pipeline.registry.active())
    assert parquet_scan_count(plan_df) == 1

    # batch 1 pushes the event-time watermark past 60s → closes [0,60s)
    pipeline.process_batch(car_df(spark, [(5, 61, 200.0)]), 1)
    evals = pipeline.evaluations().collect()
    # rule i sees car 9 iff 55 > i (i<55 → all 50) and car 7 always;
    # car 5's [60s,120s) window is still open → absent
    assert len(evals) == 50 + 50
    fired = [r for r in evals if r.fired]
    assert all(r.key == "{carId=7}" for r in fired) and len(fired) == 50

    # batch 2: with 50 per-rule emission watermarks now active (the
    # join-based gate path), closing [60s,120s) emits ONLY car 5's
    # window rows — nothing from [0,60s) re-emits
    pipeline.process_batch(car_df(spark, [(6, 121, 30.0)]), 2)
    evals2 = pipeline.evaluations().collect()
    assert len(evals2) == 100 + 50  # + car 5's [60,120) row per rule
    new_rows = [r for r in evals2 if r.key == "{carId=5}"]
    assert len(new_rows) == 50 and all(r.agg_value == 200.0 for r in new_rows)


def test_session_rule_stream_matches_gaps_and_islands(spark, tmp_path):
    """Native streaming session_window sessions == batch
    gaps-and-islands sessionization (same gap semantics)."""
    from pyspark.sql import Window as W
    from activedatawarehouseprototype_spark.streaming.windowed import (
        session_rule_stream,
    )

    rule = Rule.from_dict(
        {
            "queryId": 88,
            "queryState": "ACTIVE",
            "windowMilliseconds": 1,  # unused by session variant
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [],
            "aggregatorFunctionType": "SUM",
            "limitOperatorType": ">",
            "limit": 200,
            "aggregateFieldName": "speed",
        }
    )
    gap_ms = 30000
    rows = [
        (1, 0, 100.0), (1, 10, 50.0),      # session A (gap 10s)
        (1, 60, 80.0),                      # session B (gap 50s > 30s)
        (2, 5, 300.0), (2, 100, 10.0),      # two sessions for car 2
    ]
    df = car_df(spark, rows)
    data_dir = str(tmp_path / "sess")
    df.repartition(1).write.parquet(data_dir)
    stream = spark.readStream.schema(df.schema).parquet(data_dir)
    q = (
        session_rule_stream(stream, rule, gap_ms)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sesschk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.window_start): (r.agg_value, r.fired)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # batch gaps-and-islands on the same data
    order = W.partitionBy("carId").orderBy("ts")
    flagged = df.withColumn(
        "is_start",
        F.when(
            (F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(order)) >= gap_ms)
            | F.lag("ts").over(order).isNull(),
            1,
        ).otherwise(0),
    ).withColumn(
        "sess", F.sum("is_start").over(order.rowsBetween(W.unboundedPreceding, 0))
    )
    want = {
        (f"{{carId={r.carId}}}", r.start): (r.s, r.s > 200)
        for r in flagged.groupBy("carId", "sess")
        .agg(F.min("ts").alias("start"), F.sum("speed").alias("s"))
        .collect()
    }
    assert got == want and len(got) == 4


def test_late_data_watermark_semantics(spark, tmp_path):
    """S5 late-data contract on the native W2 stream: an event below
    the watermark is DROPPED from its (already-closed) window; a late
    event still above the watermark is aggregated into its window."""
    from activedatawarehouseprototype_spark.streaming.windowed import (
        windowed_rule_stream,
    )

    rule = Rule.from_dict(
        {
            "queryId": 55,
            "queryState": "ACTIVE",
            "windowMilliseconds": 60_000,
            "frequencyMilliseconds": None,
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [],
            "aggregateFieldName": "COUNT_FLINK",
            "aggregatorFunctionType": "SUM",
            "limitOperatorType": ">",
            "limit": 0,
        }
    )
    data_dir = tmp_path / "late_events"
    data_dir.mkdir()
    out_dir = str(tmp_path / "late_out")
    chk = str(tmp_path / "late_chk")
    schema = "carId int, ts timestamp, speed double"

    def run_once(rows, fname):
        car_df(spark, rows).repartition(1).write.parquet(
            str(data_dir / fname)
        )
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(data_dir) + "/*")
        q = (
            windowed_rule_stream(stream, rule, watermark="5 seconds")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: two events in [0,60s), frontier at 100s → watermark 95s
    run_once([(1, 5, 10.0), (1, 20, 10.0), (1, 100, 10.0)], "f1")
    # run 2: t=10s is BELOW the 95s watermark (its window is closed) →
    # dropped; t=97s is late in arrival but ABOVE the watermark →
    # aggregated into [60s,120s); t=130s advances the watermark to 125s
    run_once([(1, 10, 10.0), (1, 97, 10.0), (1, 130, 10.0)], "f2")
    # run 3: push the watermark past 120s windows' end so [60,120) emits
    run_once([(1, 200, 10.0)], "f3")

    base_s = int(
        spark.sql("SELECT unix_seconds(TIMESTAMP '2024-01-01 12:00:00')").head()[0]
    )
    got = {
        (
            int(r.window_start.timestamp()) - base_s,
            int(r.window_end.timestamp()) - base_s,
        ): r.agg_value
        for r in spark.read.parquet(out_dir).collect()
    }
    # [0,60): the late t=10 event was dropped → count stays 2
    assert got[(0, 60)] == 2.0
    # [60,120): contains t=100 (run 1) AND the late-but-accepted t=97
    assert got[(60, 120)] == 2.0


def test_empty_first_batch_not_fatal(spark, pipeline):
    """An EMPTY first micro-batch must not crash the buffer update: a
    partitioned write of 0 rows emits no parquet data files, so the
    buffer read has nothing to infer a schema from (round-3 ADVICE
    regression). The pipeline must treat it as a no-op batch and keep
    working on the next, non-empty batch."""
    reg = pipeline.registry
    reg.apply_json(json.dumps(dict(SPEEDING_RULE, alertRules=[])))
    empty = car_df(spark, []).limit(0)
    pipeline.process_batch(empty, 0)  # must not raise
    assert pipeline.evaluations().count() == 0
    # several empty batches in a row stay harmless
    pipeline.process_batch(empty, 1)
    # first real data evaluates normally
    pipeline.process_batch(car_df(spark, [(9, 1, 130.0)]), 2)
    assert pipeline.alerts().filter("query_id = 1").count() == 1


def test_midstream_rule_no_truncated_final_windows(spark, pipeline):
    """A rule registered AFTER the buffer stopped covering full stream
    history must not emit its oldest historical windows as final: those
    would aggregate a truncated event set (the round-2/3 known
    wrong-answer edge). Only windows whose full span lies inside the
    buffer's coverage may emit."""
    reg = pipeline.registry
    # batches 0-1: events flow with NO rules → nothing retained beyond
    # the raw appends, watermark advances to 70s
    pipeline.process_batch(
        car_df(spark, [(1, 0, 10.0), (1, 10, 10.0), (1, 20, 10.0)]), 0
    )
    pipeline.process_batch(car_df(spark, [(1, 70, 10.0)]), 1)

    # batch 2: a 60s tumbling SUM rule registers mid-stream. Retention
    # now reads the buffer from horizon = prev_wm(70s) - 60s = 10s, so
    # the [0,60s) window would aggregate only the 10s/20s events
    # (sum 20, truncated — the full answer is 30). It must NOT emit.
    reg.apply_json(json.dumps({
        "queryId": 300, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 1e9, "aggregateFieldName": "speed",
    }))
    pipeline.process_batch(car_df(spark, [(1, 80, 10.0)]), 2)
    assert pipeline.evaluations().count() == 0  # [0,60) suppressed, [60,120) open

    # batch 3 closes [60s,120s) — fully covered (start 60s >= cov 10s),
    # so it emits, with the COMPLETE aggregate
    pipeline.process_batch(car_df(spark, [(1, 130, 10.0)]), 3)
    evals = pipeline.evaluations().collect()
    assert len(evals) == 1
    r = evals[0]
    assert (r.window_start - BASE).total_seconds() == 60.0
    assert r.agg_value == 20.0  # the 70s + 80s events


@pytest.mark.slow
def test_midstream_registration_in_ooo_soak(spark, tmp_path):
    """OOO soak + mid-stream registration: a rule registered at batch 6
    emits only windows whose aggregate equals the full-data batch
    recompute — no truncated window sneaks out as final — and emits
    each exactly once."""
    from activedatawarehouseprototype_spark.sources.car_data import (
        out_of_order_events,
    )

    events = out_of_order_events(
        spark, 600, n_keys=5, step_ms=1_000, max_delay_ms=5_000
    ).select("carId", "ts", "speed", "arrival_seq").persist()
    reg = RuleRegistry()
    reg.apply_json(json.dumps({
        "queryId": 1, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 3_000, "aggregateFieldName": "speed",
    }))
    late_rule = {
        "queryId": 2, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 30_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 50, "aggregateFieldName": "speed",
    }
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "wk"),
        lateness_ms=10_000,
    )
    for b in range(12):
        if b == 6:
            reg.apply_json(json.dumps(late_rule))
        batch = events.filter(
            (F.col("arrival_seq") >= b * 50) & (F.col("arrival_seq") < (b + 1) * 50)
        ).drop("arrival_seq")
        pipe.process_batch(batch, b)

    emitted = [r for r in pipe.evaluations().collect() if r.query_id == 2]
    assert emitted, "the late-registered rule must emit some closed windows"
    keys = [(r.key, r.window_start) for r in emitted]
    assert len(keys) == len(set(keys))  # exactly-once
    # value-exactness vs FULL-data recompute: any truncated window
    # emitted as final would mismatch here
    want = {
        (r.key, r.window_start): (round(r.agg_value, 9), r.fired)
        for r in evaluate_rule(events.drop("arrival_seq"), reg.rules[2]).collect()
    }
    for r in emitted:
        assert want[(r.key, r.window_start)] == (round(r.agg_value, 9), r.fired)
    events.unpersist()


def test_pause_reactivate_no_truncated_windows(spark, pipeline):
    """Reentry gate: while a WIDE rule is paused, retention shrinks to
    the widest ACTIVE window; on reactivation the rule must not emit
    windows whose span the buffer no longer covers (they would be
    truncated aggregates labeled final). Windows fully covered at
    reactivation still emit, with complete values."""
    reg = pipeline.registry
    wide = {
        "queryId": 400, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 1e9, "aggregateFieldName": "speed",
    }
    narrow = {
        "queryId": 401, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": 0,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "MAX", "limitOperatorType": ">",
        "limit": 1e9, "aggregateFieldName": "speed",
    }
    reg.apply_json(json.dumps(wide))
    reg.apply_json(json.dumps(narrow))
    pipeline.process_batch(
        car_df(spark, [(1, 0, 10.0), (1, 10, 10.0), (1, 20, 10.0)]), 0
    )
    # batch 1 closes [0,60) for the wide rule — complete (sum 30)
    pipeline.process_batch(car_df(spark, [(1, 65, 10.0), (1, 70, 10.0)]), 1)
    # pause the wide rule; the narrow 10s rule now bounds retention
    reg.apply_json(json.dumps(dict(wide, queryState="PAUSE")))
    pipeline.process_batch(car_df(spark, [(1, 80, 10.0)]), 2)
    pipeline.process_batch(car_df(spark, [(1, 130, 10.0)]), 3)
    # reactivate: buffer coverage now starts at 130s - 60s = 70s, so
    # [60s,120s) (true sum 30: events 65,70,80; readable only 70,80)
    # must be SUPPRESSED; [120s,180s) is fully covered and emits
    reg.apply_json(json.dumps(wide))
    pipeline.process_batch(car_df(spark, [(1, 190, 10.0)]), 4)

    wide_evals = {
        (r.window_start - BASE).total_seconds(): r.agg_value
        for r in pipeline.evaluations().collect()
        if r.query_id == 400
    }
    assert wide_evals.get(0.0) == 30.0         # closed while watched
    assert 60.0 not in wide_evals              # truncated span suppressed
    assert wide_evals.get(120.0) == 10.0       # covered span, complete


@pytest.mark.slow
def test_rule_lifecycle_concurrency_soak(spark, tmp_path):
    """22-batch soak interleaving the whole control plane: ECA spawns,
    mid-stream registration, TTL expiry, PAUSE/reactivate, rules-table
    MERGE sync each batch, a mid-soak restart recovered FROM the rules
    table, an EXPORT verb, and a DELETE verb.

    Invariants: no duplicate query_ids in the rules table; exactly one
    spawned child per (parent, trigger key) across the restart (the
    refreshed spawn reuses the id, C2); no (rule, key, window) emitted
    twice; every emitted windowed aggregate equals the full-data batch
    recompute; expired and deleted rules are gone from registry AND
    table."""
    from activedatawarehouseprototype_spark.streaming.rule_table import (
        load_rules_table,
        save_rules_table,
    )

    table = str(tmp_path / "rules_table")
    wk = str(tmp_path / "wk")
    r1 = {
        "queryId": 1, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": 0,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 120, "aggregateFieldName": "speed",
        "alertRules": [{
            "queryId": 900, "queryState": "ACTIVE", "lastTime": 600_000,
            "windowMilliseconds": 5_000, "frequencyMilliseconds": 0,
            "groupingKeyNames": ["$carId"], "windowFilterRules": [],
            "aggregatorFunctionType": "MAX", "limitOperatorType": ">",
            "limit": 2_000, "aggregateFieldName": "speed",
        }],
    }
    r2 = {
        "queryId": 2, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 1e9, "aggregateFieldName": "speed",
    }

    reg = RuleRegistry()
    pipe = ActivePipeline(spark=spark, registry=reg, work_dir=wk)
    reg.apply_json(json.dumps(r1))

    all_rows = []
    child_ids_seen = set()
    for b in range(22):
        if b == 3:
            reg.apply_json(json.dumps(r2))
        if b == 5:
            now = int(time.time() * 1000)
            reg.apply_json(json.dumps({
                "queryId": 3, "queryState": "ACTIVE", "lastTime": 1_500,
                "activeTime": now + 1_500, "windowMilliseconds": 30_000,
                "frequencyMilliseconds": None, "groupingKeyNames": ["carId"],
                "windowFilterRules": [], "aggregateFieldName": "COUNT_FLINK",
                "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
                "limit": 1e9,
            }))
        if b == 7:
            reg.apply_json(json.dumps(dict(r2, queryState="PAUSE")))
        if b == 10:
            # restart: recover the registry FROM the rules table and
            # rebuild the pipeline on the same work_dir (fresh throttle)
            reg = load_rules_table(spark, table)
            pipe = ActivePipeline(spark=spark, registry=reg, work_dir=wk)
        if b == 12:
            reg.apply_json(json.dumps(r2))  # reactivate
        if b == 13:
            reg.apply_json(
                '{"queryState":"CONTROL","controlType":"EXPORT_RULES_CURRENT"}'
            )
            assert {r.query_id for r in reg.exported} >= {1}
        if b == 15:
            reg.apply_json('{"queryId": 2, "queryState": "DELETE"}')

        rows = [(1, b * 10, 130.0), (2, b * 10, 50.0), (3, b * 10, 80.0)]
        all_rows.extend(rows)
        pipe.process_batch(car_df(spark, rows), b)
        save_rules_table(spark, reg, table)
        child_ids_seen |= {
            r.query_id for r in reg.rules.values() if r.active_id == 1
        }

    # -- invariants ---------------------------------------------------------
    tbl = spark.read.parquet(table)
    # no duplicate query_ids in the table; table == registry
    assert tbl.groupBy("query_id").count().filter("count > 1").count() == 0
    assert {r.query_id for r in tbl.collect()} == set(reg.rules)

    # exactly one child ever existed for (parent 1, carId=1), id stable
    # across restart + re-fires (throttle + C2 id reuse)
    assert len(child_ids_seen) == 1
    children = [r for r in reg.rules.values() if r.active_id == 1]
    assert len(children) == 1 and children[0].query_id in child_ids_seen

    # TTL'd rule 3 and DELETEd rule 2 are gone from registry and table
    assert 3 not in reg.rules and 2 not in reg.rules

    # exactly-once: no (rule, key, window) emitted twice across restart
    emitted = pipe.evaluations().collect()
    keys = [(r.query_id, r.key, r.window_start, r.window_end) for r in emitted]
    assert len(keys) == len(set(keys))

    # value-exactness: every emitted aggregate (all rules incl. the
    # spawned child and the paused/reactivated R2) equals the full-data
    # recompute — truncation or double-counting would mismatch
    events = car_df(spark, all_rows)
    for qid in {r.query_id for r in emitted}:
        rule = reg.rules.get(qid)
        if rule is None:  # R2/R3 removed later; rebuild from the spec
            rule = Rule.from_dict(r2 if qid == 2 else {
                **r2, "queryId": 3, "windowMilliseconds": 30_000,
                "aggregateFieldName": "COUNT_FLINK",
            })
            rule.query_state = RuleState.ACTIVE
        want = {
            (r.key, r.window_start, r.window_end): round(r.agg_value, 9)
            for r in evaluate_rule(events, rule).collect()
        }
        for r in emitted:
            if r.query_id != qid:
                continue
            assert want[(r.key, r.window_start, r.window_end)] == round(
                r.agg_value, 9
            ), (qid, r.key, r.window_start)

    # R1 fired on car 1 only, every batch
    fired = [r for r in emitted if r.fired and r.query_id == 1]
    assert fired and all(r.key == "{carId=1}" for r in fired)


def test_pipeline_many_w1_sizes_fused_path(spark, pipeline):
    """E2E through the active loop with 10 W1 rules over 6 distinct
    window sizes (>= W1_FUSE_MIN_SIZES → the fused Arrow path inside
    evaluate_rules_grouped): per-event emission, the watermark gate and
    values must match the per-rule batch recompute exactly-once."""
    reg = pipeline.registry
    sizes = [5_000, 10_000, 20_000, 30_000, 45_000, 60_000]
    for i, w in enumerate(sizes + sizes[:4]):
        reg.apply_json(json.dumps({
            "queryId": 600 + i, "queryState": "ACTIVE", "lastTime": -1,
            "windowMilliseconds": w, "frequencyMilliseconds": 0,
            "groupingKeyNames": ["carId"], "windowFilterRules": [],
            "aggregatorFunctionType": ["AVG", "SUM", "MAX", "MIN"][i % 4],
            "limitOperatorType": ">", "limit": 60,
            "aggregateFieldName": "speed",
        }))
    rows1 = [(c, s, float((c * 7 + s * 13) % 90)) for c in (1, 2) for s in (0, 5, 20)]
    rows2 = [(c, s, float((c * 11 + s * 3) % 90)) for c in (1, 2) for s in (40, 65)]
    pipeline.process_batch(car_df(spark, rows1), 0)
    pipeline.process_batch(car_df(spark, rows2), 1)

    all_events = car_df(spark, rows1 + rows2)
    emitted = pipeline.evaluations().collect()
    keys = [(r.query_id, r.key, r.window_end) for r in emitted]
    assert len(keys) == len(set(keys))  # exactly-once across batches
    assert len(emitted) == 10 * len(rows1 + rows2)  # every rule, every event
    for qid in range(600, 610):
        want = {
            (r.key, r.window_end): (round(r.agg_value, 9), r.fired)
            for r in evaluate_rule(all_events, reg.rules[qid]).collect()
        }
        got = {
            (r.key, r.window_end): (round(r.agg_value, 9), r.fired)
            for r in emitted
            if r.query_id == qid
        }
        assert got == want, qid


def test_latency_side_output_and_metric(spark, tmp_path):
    """K3: per-event latency_ms side-output + observed batch metric
    (DynamicQueryFunction.java:81 parity)."""
    reg = RuleRegistry()
    reg.apply_json(json.dumps(dict(SPEEDING_RULE, alertRules=[])))
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "wk")
    )
    df = spark.createDataFrame(
        [
            (9, BASE, BASE - dt.timedelta(seconds=2), 130.0),
            (7, BASE, BASE - dt.timedelta(seconds=5), 90.0),
        ],
        "carId int, ts timestamp, processTime timestamp, speed double",
    )
    pipe.process_batch(df, 0)
    lat = pipe.latency().collect()
    assert len(lat) == 2
    # processTime is 2-5s in the past → latency at least that
    assert all(r.latency_ms >= 2000 for r in lat)
    assert pipe.metrics["latency_avg_ms"] >= 2000
    assert pipe.metrics["latency_max_ms"] >= pipe.metrics["latency_avg_ms"]
    # rule evaluation unaffected by the extra column
    assert pipe.alerts().filter("query_id = 1").count() > 0


def test_salted_agg_matches_unsalted(spark, tmp_path):
    """Skew hardening: 90%-single-key skew, salted two-phase W2/W3
    aggregation must equal the plain plan."""
    from activedatawarehouseprototype_spark.streaming.group_eval import (
        evaluate_rules_grouped,
    )

    rows = []
    for i in range(1000):
        car = 9 if i % 10 != 3 else i % 7  # ~90% of rows on carId=9
        rows.append((car, i % 300, float(i % 83)))
    df = car_df(spark, rows)
    rules = [
        Rule.from_dict(
            {
                "queryId": 70 + j,
                "queryState": "ACTIVE",
                "windowMilliseconds": 60_000,
                "frequencyMilliseconds": f,
                "groupingKeyNames": ["carId"],
                "windowFilterRules": [],
                "aggregatorFunctionType": fn,
                "limitOperatorType": ">",
                "limit": 40,
                "aggregateFieldName": "speed",
            }
        )
        for j, (fn, f) in enumerate(
            [("AVG", None), ("SUM", 30_000), ("MIN", None), ("MAX", 30_000)]
        )
    ]
    plain = evaluate_rules_grouped(df, rules)
    salted = evaluate_rules_grouped(df, rules, salt_buckets=8)

    def canon(d):
        return sorted(
            (r.query_id, r.key, r.window_start, r.window_end,
             round(r.agg_value, 9), r.fired)
            for r in d.collect()
        )

    assert canon(plain) == canon(salted)


def test_rule_source_seam(spark, tmp_path):
    """S1: rule ingestion is transport-agnostic — a StaticRuleSource
    (in-memory stand-in for the Kafka consumer) drives the same
    pipeline path as the watched directory."""
    from activedatawarehouseprototype_spark.sources.rule_source import (
        DirectoryRuleSource,
        StaticRuleSource,
    )

    reg = RuleRegistry()
    src = StaticRuleSource([json.dumps(dict(SPEEDING_RULE, alertRules=[]))])
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "wk"),
        rule_source=src,
    )
    pipe.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    assert len(reg.active()) == 1
    assert pipe.alerts().count() == 1
    # drained: second poll returns nothing, rule set unchanged
    pipe.process_batch(car_df(spark, [(9, 2, 135.0)]), 1)
    assert len(reg.active()) == 1

    # directory transport: mtime-tracked re-reads
    d = tmp_path / "rules"
    d.mkdir()
    dir_src = DirectoryRuleSource(str(d))
    assert dir_src.poll() == []
    (d / "r.json").write_text('{"queryId": 1}\n')
    assert len(dir_src.poll()) == 1
    assert dir_src.poll() == []  # unchanged file not re-read


def test_w1_core_throughput_100k():
    """The vectorized W1 core must chew a 100k-event key in well under
    a second per batch (the old per-event loop was O(n^2): minutes)."""
    import time

    import numpy as np

    from activedatawarehouseprototype_spark.streaming.per_event_window import (
        w1_batch_aggregate,
    )

    rng = np.random.default_rng(1)
    new_ts = np.sort(rng.integers(0, 10_000_000, 100_000)).astype(np.int64)
    new_val = rng.normal(size=100_000)
    t0 = time.perf_counter()
    out_ts, out_agg, _, _, _ = w1_batch_aggregate(
        np.empty(0, np.int64), np.empty(0), new_ts, new_val, 10_000, "AVG"
    )
    elapsed = time.perf_counter() - t0
    assert len(out_ts) == 100_000
    assert elapsed < 1.0, f"vectorized W1 took {elapsed:.2f}s for 100k events"


def test_clear_state_all_stop_stops_stream(spark, tmp_path):
    """C4: the CLEAR_STATE_ALL_STOP control verb clears window state
    AND terminates the running streaming query."""
    events_dir = tmp_path / "stop_events"
    events_dir.mkdir()
    rules_dir = tmp_path / "stop_rules"
    rules_dir.mkdir()
    (rules_dir / "r1.json").write_text(
        json.dumps(dict(SPEEDING_RULE, alertRules=[])) + "\n"
    )
    car_df(spark, [(9, 1, 130.0)]).repartition(1).write.parquet(
        str(events_dir / "f1")
    )
    reg = RuleRegistry()
    pipe = ActivePipeline(
        spark=spark,
        registry=reg,
        work_dir=str(tmp_path / "wk"),
        rules_dir=str(rules_dir),
    )
    stream = spark.readStream.schema("carId int, ts timestamp, speed double")\
        .option("maxFilesPerTrigger", 1).parquet(str(events_dir) + "/*")
    q = pipe.run_stream(stream, trigger_available_now=False)
    # wait for the first batch to land an alert
    deadline = time.time() + 60
    while time.time() < deadline and pipe.alerts().count() == 0:
        time.sleep(0.5)
    assert pipe.alerts().count() > 0
    # drop the STOP verb + one more event file to trigger a batch
    (rules_dir / "stop.json").write_text(
        '{"queryState":"CONTROL","controlType":"CLEAR_STATE_ALL_STOP"}\n'
    )
    car_df(spark, [(9, 2, 131.0)]).repartition(1).write.parquet(
        str(events_dir / "f2")
    )
    q.awaitTermination(90)
    assert not q.isActive
    assert reg.stop_requested


def test_null_timestamp_events_excluded_not_fatal(spark, pipeline):
    """Events with NULL timestamps can't be windowed: they are excluded
    from windowed aggregation without failing the batch (the reference
    would NPE on a null processTime)."""
    reg = pipeline.registry
    reg.apply_json(json.dumps(dict(SPEEDING_RULE, alertRules=[])))
    rows = [
        (9, BASE, 130.0),
        (9, None, 999.0),  # null ts — excluded from the trailing window
    ]
    df = spark.createDataFrame(rows, "carId int, ts timestamp, speed double")
    pipeline.process_batch(df, 0)
    evals = pipeline.evaluations().collect()
    assert len(evals) == 1  # only the timestamped event evaluated
    assert evals[0].agg_value == 130.0  # the 999 never entered the window


def test_stream_stream_interval_join(spark, tmp_path):
    """Parity-plus (§2.5): watermarked stream-stream interval join —
    purchases attach to a same-user click at most 30s earlier."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write(rows, schema, name):
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            str(tmp_path / name)
        )
        return (
            spark.readStream.schema(schema).parquet(str(tmp_path / name))
        )

    clicks = write(
        [(1, base, "c1"), (2, base + dt.timedelta(seconds=5), "c2"),
         (1, base + dt.timedelta(seconds=100), "c3")],
        "user int, cts timestamp, click_id string",
        "clicks",
    )
    purchases = write(
        [(1, base + dt.timedelta(seconds=10), "p1"),   # joins c1
         (2, base + dt.timedelta(seconds=50), "p2"),   # outside 30s of c2
         (1, base + dt.timedelta(seconds=110), "p3")], # joins c3
        "user int, pts timestamp, purchase_id string",
        "purch",
    )
    joined = (
        clicks.withWatermark("cts", "10 seconds")
        .join(
            purchases.withWatermark("pts", "10 seconds"),
            (clicks.user == purchases.user)
            & (purchases.pts >= clicks.cts)
            & (purchases.pts <= clicks.cts + F.expr("INTERVAL 30 SECONDS")),
            "inner",
        )
        .select("click_id", "purchase_id")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.click_id, r.purchase_id) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    assert got == {("c1", "p1"), ("c3", "p3")}


def test_streaming_query_listener_collects_progress(spark, tmp_path):
    """C8: query-level metrics arrive via StreamingQueryListener
    (rows/sec, input rows, durations) alongside the df.observe
    batch metrics."""
    from activedatawarehouseprototype_spark.streaming.listener import (
        PipelineMetricsListener,
    )

    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        events_dir = tmp_path / "lst_events"
        events_dir.mkdir()
        car_df(spark, [(9, 1, 130.0), (7, 2, 90.0)]).repartition(1)\
            .write.parquet(str(events_dir / "f1"))
        reg = RuleRegistry()
        reg.apply_json(json.dumps(dict(SPEEDING_RULE, alertRules=[])))
        pipe = ActivePipeline(
            spark=spark, registry=reg, work_dir=str(tmp_path / "wk")
        )
        stream = spark.readStream.schema(
            "carId int, ts timestamp, speed double"
        ).parquet(str(events_dir) + "/*")
        q = pipe.run_stream(stream)
        q.awaitTermination(120)
        # listener callbacks are async — poll briefly
        deadline = time.time() + 30
        while time.time() < deadline and listener.total_input_rows() < 2:
            time.sleep(0.5)
        assert listener.started
        assert listener.total_input_rows() >= 2
        assert any(p["duration_ms"] for p in listener.progress)
        assert pipe.metrics["events_ingested"] == 2  # df.observe layer
    finally:
        spark.streams.removeListener(listener)


def test_two_hundred_rules_pipeline_bnlj_path(spark, pipeline):
    """Above LITERAL_MAX_SHAPES the pipeline's evaluation runs through
    the rules-as-data fan-out — e2e check with 200 distinct-shape W2
    rules: finalized-window emission, firing, and watermark gating all
    hold on that path."""
    reg = pipeline.registry
    for i in range(200):
        reg.apply_json(json.dumps({
            "queryId": 5000 + i,
            "queryState": "ACTIVE",
            "lastTime": -1,
            "windowMilliseconds": 60_000,
            "frequencyMilliseconds": None,
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [
                {"field": "speed", "operator": ">", "value": str(i / 2.0)}
            ],
            "aggregatorFunctionType": "MAX",
            "limitOperatorType": ">",
            "limit": 100,
            "aggregateFieldName": "speed",
        }))
    pipeline.process_batch(car_df(spark, [(9, 1, 55.0), (7, 2, 120.0)]), 0)
    assert pipeline.evaluations().count() == 0  # windows still open
    pipeline.process_batch(car_df(spark, [(5, 61, 10.0)]), 1)
    evals = pipeline.evaluations().collect()
    # rule i sees car 9 iff 55 > i/2 (i < 110) and car 7 iff 120 > i/2
    # (i < 240 → all 200)
    assert len(evals) == 110 + 200
    fired = [r for r in evals if r.fired]
    assert all(r.key == "{carId=7}" for r in fired) and len(fired) == 200


def test_w1_stream_checkpoint_recovery(spark, tmp_path):
    """applyInPandasWithState state survives a query restart: the
    trailing window spans events delivered before and after the
    restart (same checkpoint)."""
    from activedatawarehouseprototype_spark.streaming.per_event_window import (
        w1_stream,
    )

    rule = Rule.from_dict(
        {
            "queryId": 42,
            "queryState": "ACTIVE",
            "windowMilliseconds": 60_000,
            "frequencyMilliseconds": 0,
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [],
            "aggregatorFunctionType": "SUM",
            "limitOperatorType": ">",
            "limit": 1e9,
            "aggregateFieldName": "speed",
        }
    )
    data_dir = tmp_path / "w1rec"
    data_dir.mkdir()
    out_dir = str(tmp_path / "w1rec_out")
    chk = str(tmp_path / "w1rec_chk")
    schema = "carId int, ts timestamp, speed double"

    def run(rows, fname):
        car_df(spark, rows).repartition(1).write.parquet(str(data_dir / fname))
        stream = spark.readStream.schema(schema).parquet(str(data_dir) + "/*")
        q = (
            w1_stream(stream, rule)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run([(9, 0, 10.0), (9, 10, 20.0)], "f1")
    # restart with a new event inside the same 60s trailing window:
    # the recovered state must contribute (sum = 10+20+30)
    run([(9, 20, 30.0)], "f2")
    got = {
        r.event_ts_ms: r.agg_value
        for r in spark.read.parquet(out_dir).collect()
    }
    base_ms = int(
        spark.sql("SELECT unix_millis(TIMESTAMP '2024-01-01 12:00:00')").head()[0]
    )
    assert got[base_ms] == 10.0
    assert got[base_ms + 10_000] == 30.0
    assert got[base_ms + 20_000] == 60.0  # state recovered across restart


@pytest.mark.slow
def test_pipeline_ooo_soak_exactly_once_and_complete(spark, tmp_path):
    """Soak over 12 out-of-order micro-batches: every CLOSED (rule,
    key, window) emits exactly once, with exactly the batch-computed
    aggregate — lateness_ms >= the source's disorder bound guarantees
    stragglers land in their window before it closes."""
    from activedatawarehouseprototype_spark.sources.car_data import (
        out_of_order_events,
    )

    max_delay = 5_000
    events = out_of_order_events(
        spark, 600, n_keys=5, step_ms=1_000, max_delay_ms=max_delay
    ).select("carId", "ts", "speed", "arrival_seq").persist()
    reg = RuleRegistry()
    reg.apply_json(json.dumps({
        "queryId": 1, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 3_000, "aggregateFieldName": "speed",
    }))
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "wk"),
        lateness_ms=10_000,
    )
    for b in range(12):
        batch = events.filter(
            (F.col("arrival_seq") >= b * 50) & (F.col("arrival_seq") < (b + 1) * 50)
        ).drop("arrival_seq")
        pipe.process_batch(batch, b)

    emitted = pipe.evaluations().collect()
    # exactly-once: no (rule, key, window) appears twice
    keys = [(r.query_id, r.key, r.window_start) for r in emitted]
    assert len(keys) == len(set(keys))

    # completeness + value-exactness for every closed window
    max_ts = events.agg(F.max(F.unix_millis("ts"))).head()[0]
    close_wm = max_ts - 10_000
    want = {
        (r.query_id, r.key, r.window_start): (r.agg_value, r.fired)
        for r in evaluate_rule(events.drop("arrival_seq"), reg.rules[1]).collect()
        if int(r.window_end.timestamp() * 1000) <= close_wm
    }
    got = {
        (r.query_id, r.key, r.window_start): (r.agg_value, r.fired)
        for r in emitted
    }
    assert got == want and len(got) > 10
    events.unpersist()


def test_pipeline_maintains_summary_mv(spark, tmp_path):
    """With mv_key_cols/mv_value_col set, each batch merges into the
    persisted per-key summary; replaying a batch id is a no-op."""
    from pyspark.sql import functions as F

    reg = RuleRegistry(persist_path=str(tmp_path / "rules.jsonl"))
    reg.apply_json(json.dumps(SPEEDING_RULE))
    pipe = ActivePipeline(
        spark=spark,
        registry=reg,
        work_dir=str(tmp_path / "wk"),
        mv_key_cols=["carId"],
        mv_value_col="speed",
    )
    b0 = car_df(spark, [(1, 0, 100.0), (2, 1, 50.0), (1, 2, 120.0)])
    b1 = car_df(spark, [(1, 10, 80.0), (3, 11, 60.0)])
    pipe.process_batch(b0, 0)
    pipe.process_batch(b1, 1)
    mv = {r.carId: (r.n, r.total, r.mn, r.mx) for r in pipe.summary_mv().collect()}
    assert mv == {
        1: (3, 300.0, 80.0, 120.0),
        2: (1, 50.0, 50.0, 50.0),
        3: (1, 60.0, 60.0, 60.0),
    }
    # replay of batch 1 (foreachBatch at-least-once) must not double-count
    pipe.process_batch(b1, 1)
    mv2 = {r.carId: (r.n, r.total, r.mn, r.mx) for r in pipe.summary_mv().collect()}
    assert mv2 == mv


def test_alert_cooldown_across_batches_and_restart(spark, tmp_path):
    """alert_cooldown_ms: a rule re-firing for the same key within the
    cooldown emits ONE alert (re-firings counted as suppressed); after
    the cooldown passes it emits again; the clock survives a pipeline
    restart (durable state table)."""
    from activedatawarehouseprototype_spark.streaming.pipeline import (
        ActivePipeline,
    )
    from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

    rule = {
        "queryId": 5, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "MAX", "limitOperatorType": ">",
        "limit": 100, "aggregateFieldName": "speed",
    }
    reg = RuleRegistry()
    reg.apply_json(json.dumps(rule))
    work = str(tmp_path / "cool")
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=work,
        alert_cooldown_ms=120_000,
    )
    # 10s tumbling windows, event time strictly advancing; slow filler
    # events move the watermark without firing. Firing window ends:
    # 10s (emitted), 30s (suppressed), 70s (suppressed), 150s (emitted
    # — 150 >= 10 + 120).
    pipe.process_batch(car_df(spark, [(9, 1, 130.0), (9, 15, 1.0)]), 0)
    pipe.process_batch(car_df(spark, [(9, 21, 140.0), (9, 45, 1.0)]), 1)
    a = pipe.alerts().filter("query_id = 5").collect()
    assert len(a) == 1  # 30s firing suppressed: within 120s of 10s
    assert pipe.metrics["alerts_suppressed"] == 1

    # restart: a NEW pipeline over the same work_dir keeps the clock
    reg2 = RuleRegistry()
    reg2.apply_json(json.dumps(rule))
    pipe2 = ActivePipeline(
        spark=spark, registry=reg2, work_dir=work,
        alert_cooldown_ms=120_000,
    )
    pipe2.process_batch(car_df(spark, [(9, 61, 150.0), (9, 95, 1.0)]), 2)
    a2 = pipe2.alerts().filter("query_id = 5").collect()
    assert len(a2) == 1  # 70s still inside the restored cooldown clock
    assert pipe2.metrics["alerts_suppressed"] == 1
    pipe2.process_batch(car_df(spark, [(9, 141, 160.0), (9, 175, 1.0)]), 3)
    a3 = pipe2.alerts().filter("query_id = 5").collect()
    assert len(a3) == 2  # 150s >= 10s + 120s -> emitted


def test_pipeline_mv_histogram_percentiles(spark, tmp_path):
    """The pipeline-maintained summary MV can carry the mergeable
    histogram: after two batches the per-key percentile estimate from
    the MV matches the true percentile of all ingested values to
    within one bin width."""
    import numpy as np

    from activedatawarehouseprototype_spark.operators.warehouse import (
        estimate_percentile,
    )
    from activedatawarehouseprototype_spark.streaming.pipeline import (
        ActivePipeline,
    )
    from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

    reg = RuleRegistry()
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "wk"),
        ts_col="ts", mv_key_cols=["carId"], mv_value_col="speed",
        mv_hist_bins=(0.0, 200.0, 20),
    )
    all_speeds = []
    for b in range(2):
        rows = [(1, b * 100 + i, float((b * 37 + i * 13) % 200))
                for i in range(50)]
        all_speeds += [v for _, _, v in rows]
        pipe.process_batch(car_df(spark, rows), b)
    mv = spark.read.parquet(pipe.summary_mv_path)
    row = mv.filter("carId = 1").collect()[0]
    assert sum(row["hist"]) == 100
    est = estimate_percentile(list(row["hist"]), 0.5, 0.0, 200.0)
    true = float(np.percentile(all_speeds, 50))
    assert abs(est - true) <= 10.0 + 1e-9  # one bin width
    # the pipeline-level reader returns the same estimate
    assert pipe.summary_percentile({"carId": 1}, 0.5) == est


def test_pipeline_ingest_quality_gate(spark, tmp_path):
    """ingest_constraints: violating events are quarantined (with
    blame) before the buffer — they never reach window aggregates —
    while clean events evaluate normally."""
    from activedatawarehouseprototype_spark.operators.quality import Constraint
    from activedatawarehouseprototype_spark.streaming.pipeline import (
        ActivePipeline,
    )
    from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

    rule = {
        "queryId": 7, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 0, "aggregateFieldName": "speed",
    }
    reg = RuleRegistry()
    reg.apply_json(json.dumps(rule))
    work = str(tmp_path / "qgate")
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=work,
        ingest_constraints=[
            Constraint("speed_range", "in_range", column="speed",
                       lo=0.0, hi=200.0),
        ],
    )
    # car 9: one sane event; car 6: an absurd 9999 km/h sensor glitch
    pipe.process_batch(
        car_df(spark, [(9, 1, 100.0), (6, 2, 9999.0), (9, 15, 50.0)]), 0
    )
    assert pipe.metrics["events_quarantined"] == 1
    q = spark.read.parquet(f"{work}/quarantine")
    assert [r.carId for r in q.collect()] == [6]
    assert q.collect()[0]["violated"] == ["speed_range"]
    # the glitch never reached evaluation: no car-6 window exists
    evals = pipe.evaluations()
    assert evals.filter("key = '{carId=6}'").count() == 0
    assert evals.filter("key = '{carId=9}'").count() >= 1


def test_pipeline_quarantine_replay_idempotent(spark, tmp_path):
    """An at-least-once foreachBatch REPLAY of the same batch id must
    not duplicate quarantine rows nor double-count the metric (the
    per-batch overwrite directory is the idempotence mechanism)."""
    from activedatawarehouseprototype_spark.operators.quality import Constraint
    from activedatawarehouseprototype_spark.streaming.pipeline import (
        ActivePipeline,
    )
    from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

    rule = {
        "queryId": 7, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 0, "aggregateFieldName": "speed",
    }
    reg = RuleRegistry()
    reg.apply_json(json.dumps(rule))
    work = str(tmp_path / "qreplay")
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=work,
        ingest_constraints=[
            Constraint("speed_range", "in_range", column="speed",
                       lo=0.0, hi=200.0),
        ],
    )
    batch = car_df(spark, [(9, 1, 100.0), (6, 2, 9999.0)])
    pipe.process_batch(batch, 0)
    assert pipe.metrics["events_quarantined"] == 1
    pipe.process_batch(batch, 0)  # the replay
    assert pipe.metrics["events_quarantined"] == 1  # not double-counted
    q = spark.read.parquet(f"{work}/quarantine")
    assert q.count() == 1  # not duplicated
    assert q.collect()[0]["carId"] == 6


def test_pipeline_cdc_enriched_evaluations_mv(spark, tmp_path):
    """CDC end-to-end through the pipeline (round-4 VERDICT item 6):
    evaluations flow per batch into a CDC-maintained join MV against an
    entity dimension (enrich_on="key"); a dimension UPDATE between
    batches retracts and reapplies PAST batches' MV rows with the new
    attributes; later batches join the updated dimension; replays are
    no-ops."""
    from activedatawarehouseprototype_spark.streaming.pipeline import (
        ActivePipeline,
    )
    from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

    rule = {
        "queryId": 42, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 0, "aggregateFieldName": "speed",
    }
    reg = RuleRegistry()
    reg.apply_json(json.dumps(rule))
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "cdc_e2e"),
        enrich_on="key",
    )
    # seed the dimension BEFORE any evaluations
    dim = spark.createDataFrame(
        [("{carId=1}", "alice"), ("{carId=2}", "bob"), ("{carId=3}", "carol")],
        "key string, owner string",
    )
    pipe.update_enrich_dim(dim)

    # batch 0 fills window [0,60s); batch 1 (ts 70s) closes it
    pipe.process_batch(car_df(spark, [(1, 0, 50.0), (2, 10, 80.0)]), 0)
    pipe.process_batch(car_df(spark, [(3, 70, 30.0)]), 1)
    got = {(r.key, r.owner) for r in pipe.enriched().collect()}
    assert got == {("{carId=1}", "alice"), ("{carId=2}", "bob")}

    # dimension UPDATE: car 1 reassigned → the MV row written two
    # batches ago retracts and reapplies with the new owner
    pipe.update_enrich_dim(
        spark.createDataFrame([("{carId=1}", "dave")], "key string, owner string")
    )
    got = {(r.key, r.owner) for r in pipe.enriched().collect()}
    assert got == {("{carId=1}", "dave"), ("{carId=2}", "bob")}
    # retract/reapply preserved the evaluation payload
    row = pipe.enriched().filter("key = '{carId=1}'").collect()[0]
    assert row.agg_value == 50.0 and row.query_id == 42

    # batch 2 closes [60s,120s): car 3's evaluation joins the UPDATED dim
    pipe.process_batch(car_df(spark, [(1, 130, 40.0)]), 2)
    got = {(r.key, r.owner) for r in pipe.enriched().collect()}
    assert got == {
        ("{carId=1}", "dave"), ("{carId=2}", "bob"), ("{carId=3}", "carol"),
    }

    # at-least-once replay of batch 2 adds nothing (batch-id marker)
    n = pipe.enriched().count()
    pipe.process_batch(car_df(spark, [(1, 130, 40.0)]), 2)
    assert pipe.enriched().count() == n


@pytest.mark.slow
def test_registry_rule_table_concurrency_soak(spark, tmp_path):
    """Round-4 VERDICT item 4: interleave rules-table MERGE syncs, TTL
    sweeps, CONTROL verbs, mid-stream registration, DELETE, and ECA
    spawns across 24 out-of-order micro-batches with a RESTART
    (registry rebuilt from the rules table, same work_dir) and a
    replayed batch mid-run. Invariants: no lost rules (table roundtrip
    == registry at every sync), no duplicate query_ids, no re-emitted
    (rule, key, window) anywhere, and closed-window values exact vs the
    batch recompute."""
    from activedatawarehouseprototype_spark.sources.car_data import (
        out_of_order_events,
    )
    from activedatawarehouseprototype_spark.streaming.rule_table import (
        load_rules_table,
        save_rules_table,
    )

    table = str(tmp_path / "rules_table")
    work = str(tmp_path / "wk")
    base_rule = {
        "queryId": 1, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 100, "aggregateFieldName": "speed",
        "alertRules": [{
            "queryId": 900, "queryState": "ACTIVE", "lastTime": 300_000,
            "windowMilliseconds": 30_000, "frequencyMilliseconds": None,
            "groupingKeyNames": ["$carId"], "windowFilterRules": [],
            "aggregatorFunctionType": "MAX", "limitOperatorType": ">",
            "limit": 10, "aggregateFieldName": "speed",
        }],
    }
    mid_rule = {
        "queryId": 2, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [{"field": "speed", "operator": ">", "value": "50"}],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 80, "aggregateFieldName": "speed",
    }
    events = out_of_order_events(
        spark, 1200, n_keys=5, step_ms=1_000, max_delay_ms=5_000
    ).select("carId", "ts", "speed", "arrival_seq").persist()
    events.count()

    reg = RuleRegistry()
    reg.apply_json(json.dumps(base_rule))
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=work, lateness_ms=10_000
    )

    def sync_and_check():
        save_rules_table(spark, pipe.registry, table)
        tbl = spark.read.parquet(table)
        ids = [r.query_id for r in tbl.select("query_id").collect()]
        assert len(ids) == len(set(ids)), "duplicate query_ids in table"
        roundtrip = load_rules_table(spark, table)
        assert set(roundtrip.rules) == set(pipe.registry.rules), "lost rules"
        for qid, r in pipe.registry.rules.items():
            assert roundtrip.rules[qid].to_json() == r.to_json()

    def run(b):
        batch = events.filter(
            (F.col("arrival_seq") >= b * 50)
            & (F.col("arrival_seq") < (b + 1) * 50)
        ).drop("arrival_seq")
        pipe.process_batch(batch, b)

    now = int(time.time() * 1000)
    for b in range(12):
        if b == 6:
            # TTL candidate: already expired, swept by the next batch
            pipe.registry.apply_json(json.dumps({
                "queryId": 777, "queryState": "ACTIVE", "lastTime": 1000,
                "activeTime": now - 1, "activeId": 77,
                "windowMilliseconds": 10_000, "frequencyMilliseconds": None,
                "groupingKeyNames": ["carId"],
                "windowFilterRules": [{"field": "speed", "operator": ">",
                                       "value": "9999"}],
                "aggregatorFunctionType": "MAX", "limitOperatorType": ">",
                "limit": 0, "aggregateFieldName": "speed",
            }))
        if b == 8:
            pipe.registry.apply_json(json.dumps(mid_rule))  # mid-stream reg
        run(b)
        if b == 7:
            assert 777 not in pipe.registry.rules, "TTL sweep missed"
        if b % 3 == 0:
            sync_and_check()

    # RESTART: rebuild the registry FROM the rules table, same work_dir
    save_rules_table(spark, pipe.registry, table)
    n_rules_before = len(pipe.registry.rules)
    reg2 = load_rules_table(spark, table)
    assert len(reg2.rules) == n_rules_before
    pipe = ActivePipeline(
        spark=spark, registry=reg2, work_dir=work, lateness_ms=10_000
    )
    run(11)  # at-least-once REPLAY of the pre-restart batch

    for b in range(12, 24):
        if b == 16:  # CONTROL verb: export must not disturb evaluation
            pipe.registry.apply_json(json.dumps(
                {"queryState": "CONTROL", "controlType": "EXPORT_RULES_CURRENT"}
            ))
            assert {r.query_id for r in pipe.registry.exported} == set(
                pipe.registry.rules
            )
        if b == 18:  # DELETE the mid-stream rule
            pipe.registry.apply_json(json.dumps(
                {"queryId": 2, "queryState": "DELETE"}
            ))
        run(b)
        if b % 3 == 0:
            sync_and_check()
    sync_and_check()
    assert 2 not in pipe.registry.rules
    assert pipe.metrics["rules_spawned"] >= 0 and len(pipe.registry.rules) >= 1

    emitted = pipe.evaluations().collect()
    keys = [(r.query_id, r.key, r.window_start) for r in emitted]
    assert len(keys) == len(set(keys)), "re-emitted (rule, key, window)"

    # value-exactness for the base rule's closed windows
    max_ts = events.agg(F.max(F.unix_millis("ts"))).head()[0]
    close_wm = max_ts - 10_000
    base = Rule.from_dict(base_rule)
    want = {
        (r.key, r.window_start): (r.agg_value, r.fired)
        for r in evaluate_rule(events.drop("arrival_seq"), base).collect()
        if int(r.window_end.timestamp() * 1000) <= close_wm
    }
    got = {
        (r.key, r.window_start): (r.agg_value, r.fired)
        for r in emitted if r.query_id == 1
    }
    assert got == want and len(got) > 10
    # ECA actually interleaved: children were spawned and survive in
    # the final registry/table
    children = [qid for qid in pipe.registry.rules if qid not in (1, 2)]
    assert children, "no ECA spawns happened during the soak"
    events.unpersist()


@pytest.mark.slow
def test_pipeline_hot_key_salted_grouped_soak(spark, tmp_path, monkeypatch):
    """Round-4 VERDICT item 5: a genuinely hot key (~50% of all events)
    driven through the FULL ActivePipeline on the grouped evaluator
    with salting enabled. Asserts (a) the salted two-phase plan is the
    one actually selected (spied at the evaluate_rules_grouped seam +
    `_salt` in the physical plan), and (b) every rule's emitted closed
    windows are value-exact vs the per-rule batch recompute — salting
    must redistribute work, never change answers."""
    import activedatawarehouseprototype_spark.streaming.pipeline as P

    captured = {}
    orig = P.evaluate_rules_grouped

    def spy(buffer, rules, ts_col="ts", salt_buckets=None):
        captured["salt"] = salt_buckets
        out = orig(buffer, rules, ts_col=ts_col, salt_buckets=salt_buckets)
        captured["plan"] = out._jdf.queryExecution().toString()
        return out

    monkeypatch.setattr(P, "evaluate_rules_grouped", spy)

    base = int(BASE.timestamp())
    # 3000 events, carId=1 carries every even id (~50%); the rest
    # spread over carIds 2..10
    events = spark.range(3000).select(
        F.when(F.col("id") % 2 == 0, 1)
        .otherwise((F.col("id") % 9 + 2).cast("int"))
        .cast("int")
        .alias("carId"),
        F.timestamp_seconds(F.lit(base) + F.col("id")).alias("ts"),
        (F.col("id") * 7 % 160).cast("double").alias("speed"),
        F.col("id").alias("seq"),
    ).persist()
    events.count()

    reg = RuleRegistry()
    rules = []
    for i in range(10):
        rd = {
            "queryId": 500 + i, "queryState": "ACTIVE", "lastTime": -1,
            "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [
                {"field": "speed", "operator": ">", "value": str(i * 10)}
            ],
            "aggregatorFunctionType": "SUM" if i % 2 else "AVG",
            "limitOperatorType": ">", "limit": 80,
            "aggregateFieldName": "speed",
        }
        rules.append(Rule.from_dict(rd))
        reg.apply_json(json.dumps(rd))

    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "hot"),
        salt_buckets=16,
    )
    for b in range(10):
        batch = events.filter(
            (F.col("seq") >= b * 300) & (F.col("seq") < (b + 1) * 300)
        ).drop("seq")
        pipe.process_batch(batch, b)

    assert captured["salt"] == 16
    assert "_salt" in captured["plan"], "salted plan not selected"

    emitted = pipe.evaluations().collect()
    keys = [(r.query_id, r.key, r.window_start) for r in emitted]
    assert len(keys) == len(set(keys))

    max_ts = events.agg(F.max(F.unix_millis("ts"))).head()[0]
    flat = events.drop("seq")
    for rule in rules:
        want = {
            (r.key, r.window_start): (round(r.agg_value, 6), r.fired)
            for r in evaluate_rule(flat, rule).collect()
            if int(r.window_end.timestamp() * 1000) <= max_ts
        }
        got = {
            (r.key, r.window_start): (round(r.agg_value, 6), r.fired)
            for r in emitted if r.query_id == rule.query_id
        }
        assert got == want, f"rule {rule.query_id} mismatch"
    assert len(emitted) > 100
    events.unpersist()


def test_enrich_dim_update_crash_retry_converges(spark, tmp_path):
    """A crash between the dim_table merge and the MV patch must NOT
    strand the enrichment MV: the changelog anchors on the MV's /right
    snapshot (committed last), so retrying the same update regenerates
    it and converges (the review-found divergence: anchoring on the
    already-merged dim_table made the retry's changelog empty)."""
    from activedatawarehouseprototype_spark.operators import warehouse
    from activedatawarehouseprototype_spark.streaming.pipeline import (
        ActivePipeline,
    )
    from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

    rule = {
        "queryId": 7, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 0, "aggregateFieldName": "speed",
    }
    reg = RuleRegistry()
    reg.apply_json(json.dumps(rule))
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "crash_retry"),
        enrich_on="key",
    )
    pipe.update_enrich_dim(
        spark.createDataFrame([("{carId=1}", "alice")], "key string, owner string")
    )
    pipe.process_batch(car_df(spark, [(1, 0, 50.0)]), 0)
    pipe.process_batch(car_df(spark, [(1, 70, 30.0)]), 1)
    assert {(r.key, r.owner) for r in pipe.enriched().collect()} == {
        ("{carId=1}", "alice")
    }

    # crash INSIDE update_enrich_dim: dim_table merge committed, MV
    # patch never ran
    orig = warehouse.apply_cdc_to_join_mv
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise RuntimeError("simulated crash before MV patch")

    warehouse.apply_cdc_to_join_mv = boom
    upd = spark.createDataFrame([("{carId=1}", "dave")], "key string, owner string")
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            pipe.update_enrich_dim(upd)
    finally:
        warehouse.apply_cdc_to_join_mv = orig
    assert calls["n"] == 1
    # MV still shows the old owner (patch never landed)...
    assert {(r.key, r.owner) for r in pipe.enriched().collect()} == {
        ("{carId=1}", "alice")
    }
    # ...and the RETRY of the same update converges
    pipe.update_enrich_dim(upd)
    assert {(r.key, r.owner) for r in pipe.enriched().collect()} == {
        ("{carId=1}", "dave")
    }


def test_rules_table_load_recovers_crashed_swap(spark, tmp_path):
    """Crash inside the rules-table swap (target renamed to .old,
    staging not yet promoted): restart recovery must restore the
    committed rules, not return an empty registry whose next save
    would permanently delete every standing query."""
    import os
    import shutil as _sh

    from activedatawarehouseprototype_spark.streaming.rule_table import (
        load_rules_table,
        save_rules_table,
    )

    reg = RuleRegistry()
    reg.apply_json(json.dumps({
        "queryId": 5, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 1000, "groupingKeyNames": ["carId"],
        "windowFilterRules": [], "aggregatorFunctionType": "AVG",
        "limitOperatorType": ">", "limit": 1,
        "aggregateFieldName": "speed",
    }))
    path = str(tmp_path / "rules_tbl")
    save_rules_table(spark, reg, path)
    # simulate the crash window: committed state lives only in .old
    os.replace(path, path + ".old")
    assert not os.path.exists(path)
    recovered = load_rules_table(spark, path)
    assert set(recovered.rules) == {5}
    _sh.rmtree(path + ".old", ignore_errors=True)


def test_pipeline_rolling_zscore_anomaly_stage(spark, tmp_path):
    """The adaptive-threshold anomaly stage: a car whose hourly speed
    total spikes vs its OWN trailing baseline is flagged; a steady car
    never is; a foreachBatch replay adds no duplicate history or
    anomaly rows."""
    reg = RuleRegistry(persist_path=str(tmp_path / "rules.jsonl"))
    reg.apply_json(json.dumps(SPEEDING_RULE))
    pipe = ActivePipeline(
        spark=spark,
        registry=reg,
        work_dir=str(tmp_path / "wk"),
        anomaly_key_cols=["carId"],
        anomaly_value_col="speed",
        anomaly_bucket_ms=3_600_000,
        anomaly_lookback=7,
        anomaly_min_periods=3,
        anomaly_threshold=3.0,
    )
    HOUR = 3600
    # batches 0-3: four flat hourly buckets for cars 1 and 2
    for b in range(4):
        rows = [(1, b * HOUR, 50.0 + b), (2, b * HOUR, 50.0 - b)]
        pipe.process_batch(car_df(spark, rows), b)
    assert pipe.anomalies().count() == 0  # flat history: nothing flags

    # batch 4: car 1 spikes 40x; car 2 stays flat
    pipe.process_batch(
        car_df(spark, [(1, 4 * HOUR, 2000.0), (2, 4 * HOUR, 50.0)]), 4
    )
    got = pipe.anomalies().collect()
    assert {r.carId for r in got} == {1}
    assert len(got) == 1 and abs(got[0].zscore) > 3.0
    # the flagged bucket is the newest one (buckets are absolute epoch ms)
    newest = (
        spark.read.parquet(pipe.anomaly_history_path)
        .agg(F.max("bucket_ms"))
        .collect()[0][0]
    )
    assert got[0].bucket_ms == newest

    # replay of batch 4 (at-least-once): identical state afterwards
    pipe.process_batch(
        car_df(spark, [(1, 4 * HOUR, 2000.0), (2, 4 * HOUR, 50.0)]), 4
    )
    assert pipe.anomalies().count() == 1
    hist = spark.read.parquet(pipe.anomaly_history_path)
    # 5 buckets x 2 cars, exactly once despite the replay
    assert hist.count() == 10
    # history totals are per-(key, bucket) sums of the batch partials
    assert (
        hist.filter((F.col("carId") == 1) & (F.col("batch") == 4))
        .collect()[0]
        .x
        == 2000.0
    )


def test_anomaly_stage_survives_restart_and_validates_config(spark, tmp_path):
    """History lives on disk, so a RESTARTED pipeline (fresh object,
    same work_dir) scores new batches against the pre-restart
    baseline; half-specified anomaly config raises at construction."""
    import pytest as _pytest

    def mk():
        reg = RuleRegistry(persist_path=str(tmp_path / "rules.jsonl"))
        reg.apply_json(json.dumps(SPEEDING_RULE))
        return ActivePipeline(
            spark=spark,
            registry=reg,
            work_dir=str(tmp_path / "wk"),
            anomaly_key_cols=["carId"],
            anomaly_value_col="speed",
            anomaly_min_periods=3,
        )

    HOUR = 3600
    p1 = mk()
    for b in range(4):
        p1.process_batch(car_df(spark, [(1, b * HOUR, 50.0 + b)]), b)
    assert p1.anomalies().count() == 0

    # restart: new pipeline object, same work_dir — the spike batch
    # must still see the four pre-restart baseline buckets
    p2 = mk()
    p2.process_batch(car_df(spark, [(1, 4 * HOUR, 2000.0)]), 4)
    got = p2.anomalies().collect()
    assert len(got) == 1 and got[0].carId == 1

    with _pytest.raises(ValueError, match="anomaly"):
        ActivePipeline(
            spark=spark,
            registry=RuleRegistry(persist_path=str(tmp_path / "r2.jsonl")),
            work_dir=str(tmp_path / "wk2"),
            anomaly_key_cols=["carId"],  # value col missing
        )


def test_widened_window_reupsert_refloors_coverage_gate(spark, pipeline):
    """Round-6 review finding 1: upserting a standing rule under the
    SAME query_id with a WIDER window is a coverage re-entry — the
    wider history may already be pruned, so the first wide windows
    must not emit as final with a truncated aggregate."""
    reg = pipeline.registry
    narrow = {
        "queryId": 400, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 20_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 1e9, "aggregateFieldName": "speed",
    }
    reg.apply_json(json.dumps(narrow))
    pipeline.process_batch(
        car_df(spark, [(1, 0, 10.0), (1, 10, 10.0), (1, 25, 10.0)]), 0
    )
    pipeline.process_batch(car_df(spark, [(1, 70, 10.0)]), 1)

    # C1 upsert: same query_id, window widened 20s -> 60s. Retention
    # has long stopped covering t=0; the widened [0, 60s) window would
    # aggregate a truncated set (the 0s event is beyond coverage).
    wide = dict(narrow, windowMilliseconds=60_000)
    reg.apply_json(json.dumps(wide))
    pipeline.process_batch(car_df(spark, [(1, 80, 10.0)]), 2)
    pipeline.process_batch(car_df(spark, [(1, 130, 10.0)]), 3)

    rows = [
        r
        for r in pipeline.evaluations().collect()
        if (r.window_end - r.window_start).total_seconds() == 60.0
    ]
    starts = {(r.window_start - BASE).total_seconds() for r in rows}
    assert 0.0 not in starts, "truncated widened window emitted as final"
    assert 60.0 in starts
    got = [r for r in rows if (r.window_start - BASE).total_seconds() == 60.0]
    assert got[0].agg_value == 20.0  # complete: the 70s + 80s events


def test_sibling_eca_children_coexist_in_registry(spark):
    """Round-6 review finding 2: two ECA children of ONE parent
    (same active_id, identical pinned filters) but different
    aggregation templates must both stand; re-sending an identical
    child must still refresh in place (C2 id reuse)."""
    reg = RuleRegistry()
    base = {
        "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [{"field": "carId", "operator": "=", "value": "9"}],
        "limitOperatorType": ">", "aggregateFieldName": "speed",
        "activeId": 1,
    }
    sum_child = dict(base, queryId=501, aggregatorFunctionType="SUM", limit=100)
    cnt_child = dict(
        base, queryId=502, aggregatorFunctionType="AVG", limit=5
    )
    reg.apply_json(json.dumps(sum_child))
    reg.apply_json(json.dumps(cnt_child))
    assert len(reg.rules) == 2, "sibling child was collapsed away"

    # true re-trigger: identical query re-sent under a new id — must
    # reuse the standing id instead of duplicating
    resend = dict(sum_child, queryId=999)
    reg.apply_json(json.dumps(resend))
    assert len(reg.rules) == 2
    assert 501 in reg.rules and 999 not in reg.rules


def test_cooldown_state_commits_only_after_sink_write(spark, tmp_path):
    """Round-6 review finding 3: the durable cooldown clock must not
    advance before the alerts sink write — a crash between the two
    would otherwise suppress the replayed alert forever. The split
    filter/commit halves make the order testable: before commit, a
    re-filter still emits; after commit, it suppresses."""
    reg = RuleRegistry(persist_path=str(tmp_path / "rules.jsonl"))
    reg.apply_json(json.dumps(SPEEDING_RULE))
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "wk"),
        alert_cooldown_ms=3_600_000,
    )
    fired = spark.createDataFrame(
        [(1, "{carId=9}", BASE, BASE + dt.timedelta(seconds=10), 130.0, True)],
        "query_id long, key string, window_start timestamp, "
        "window_end timestamp, agg_value double, fired boolean",
    )
    first = pipe._apply_alert_cooldown(fired)
    assert first.count() == 1
    # crash-before-commit simulation: state untouched -> replay emits
    pipe._cooldown_pending = None
    again = pipe._apply_alert_cooldown(fired)
    assert again.count() == 1, "alert lost in the write-vs-commit window"
    # now commit (as process_batch does AFTER the sink write)
    pipe._apply_alert_cooldown(fired)
    pipe._commit_alert_cooldown()
    suppressed = pipe._apply_alert_cooldown(fired)
    assert suppressed.count() == 0


def test_instantiate_child_skips_null_trigger_key(spark):
    """Round-6 review finding 7: a NULL trigger key renders 'null' in
    the composite key; pinning it as a literal makes a dead child —
    the spawn is refused (None) instead."""
    from activedatawarehouseprototype_spark.rules.model import Rule
    from activedatawarehouseprototype_spark.streaming.eca import (
        instantiate_child,
    )
    from activedatawarehouseprototype_spark.rules.snowflake import (
        SnowflakeIdWorker,
    )

    template = Rule.from_dict({
        "queryId": 7, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["$carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 1, "aggregateFieldName": "speed",
    })
    w = SnowflakeIdWorker()
    assert instantiate_child(template, {"carId": "null"}, 1, 0, w) is None
    ok = instantiate_child(template, {"carId": "9"}, 1, 0, w)
    assert ok is not None
    assert any(
        f.field == "carId" and f.value == "9" for f in ok.window_filter_rules
    )


@pytest.mark.slow
def test_pipeline_all_features_soak_with_restart(spark, tmp_path):
    """Kitchen-sink soak: EVERY optional pipeline stage enabled at once
    — ingest quality gate, summary MV + mergeable histogram, alert
    cooldown, CDC enrichment MV, rolling z-score anomaly stage, and the
    salted grouped evaluator (every rule takes it, so the soak doubles
    as its e2e salted-correctness check) —
    across 8 batches with a mid-soak RESTART and an at-least-once
    replay of the final batch. Each stage's standalone invariants must
    hold when all of them compose."""
    from activedatawarehouseprototype_spark.operators.quality import Constraint

    rule = {
        "queryId": 1, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 0, "aggregateFieldName": "speed",
    }
    work = str(tmp_path / "sink")
    rules_p = str(tmp_path / "rules.jsonl")

    def mk():
        reg = RuleRegistry.load(rules_p)
        reg.persist_path = rules_p
        if 1 not in reg.rules:
            reg.apply_json(json.dumps(rule))
        return ActivePipeline(
            spark=spark, registry=reg, work_dir=work,
            mv_key_cols=["carId"], mv_value_col="speed",
            mv_hist_bins=(0.0, 200.0, 10),
            alert_cooldown_ms=60_000,
            ingest_constraints=[
                Constraint("speed_range", "in_range", column="speed",
                           lo=0.0, hi=200.0),
            ],
            enrich_on="key",
            anomaly_key_cols=["carId"], anomaly_value_col="speed",
            anomaly_bucket_ms=10_000, anomaly_lookback=7,
            anomaly_min_periods=3, anomaly_threshold=3.0,
            salt_buckets=4,
        )

    pipe = mk()
    pipe.update_enrich_dim(spark.createDataFrame(
        [(f"{{carId={c}}}", f"fleet{c % 2}") for c in range(1, 5)],
        "key string, fleet string",
    ))

    # 8 batches x 10s each; car 1 hot (10 of ~13 rows/batch); car 3
    # flat until a 180 km/h spike in batch 7; a 9999 glitch every even
    # batch (quarantined, must never reach any downstream stage)
    batches, admitted, bad_total = [], [], 0
    for b in range(8):
        base = b * 10
        rows = [(1, base + i, float(40 + (b * 10 + i) % 20)) for i in range(10)]
        rows.append((2, base + 1, float(60 + b)))
        rows.append((3, base + 3, 180.0 if b == 7 else float(30 + b)))
        if b % 2 == 0:
            rows.append((4, base + 5, 9999.0))
            bad_total += 1
        admitted += [r for r in rows if r[2] <= 200.0]
        batches.append(rows)

    for b in range(4):
        pipe.process_batch(car_df(spark, batches[b]), b)
    pipe = mk()  # mid-soak restart: fresh object, same durable state
    for b in range(4, 8):
        pipe.process_batch(car_df(spark, batches[b]), b)

    mv_before = sorted(map(tuple, pipe.summary_mv().collect()))
    n_enriched = pipe.enriched().count()
    n_alerts = pipe.alerts().count()
    pipe.process_batch(car_df(spark, batches[7]), 7)  # at-least-once replay

    # 1) evaluations: exactly-once, and exactly the batch twin over
    # ADMITTED events for every closed window (glitches excluded)
    emitted = pipe.evaluations().collect()
    keys = [(r.query_id, r.key, r.window_start) for r in emitted]
    assert len(keys) == len(set(keys))
    adm_df = car_df(spark, admitted)
    close_wm = max(s for _, s, _ in admitted) * 1000 + int(
        BASE.timestamp() * 1000
    )
    want = {
        (r.query_id, r.key, r.window_start): (r.agg_value, r.fired)
        for r in evaluate_rule(adm_df, pipe.registry.rules[1]).collect()
        if int(r.window_end.timestamp() * 1000) <= close_wm
    }
    got = {
        (r.query_id, r.key, r.window_start): (r.agg_value, r.fired)
        for r in emitted
    }
    assert got == want and len(got) >= 21  # 3 cars x 7 closed windows

    # 2) summary MV == per-key recompute over admitted rows; histogram
    # mass == n; the replay changed nothing
    assert sorted(map(tuple, pipe.summary_mv().collect())) == mv_before
    stats = {}
    for c, _, v in admitted:
        n, tot, mn, mx = stats.get(c, (0, 0.0, float("inf"), float("-inf")))
        stats[c] = (n + 1, tot + v, min(mn, v), max(mx, v))
    mv = {r.carId: (r.n, r.total, r.mn, r.mx) for r in pipe.summary_mv().collect()}
    assert mv == stats
    hist = spark.read.parquet(pipe.summary_mv_path)
    for r in hist.collect():
        assert sum(r["hist"]) == stats[r["carId"]][0]

    # 3) quarantine: every glitch, exactly once, with blame
    q = spark.read.parquet(f"{work}/quarantine")
    assert q.count() == bad_total
    assert set(q.select("carId").distinct().toPandas()["carId"]) == {4}
    assert all(r["violated"] == ["speed_range"] for r in q.collect())

    # 4) enrichment MV: one row per evaluation, carrying the dim attr;
    # replay added nothing; a dim UPDATE rewrites PAST rows
    assert pipe.enriched().count() == n_enriched == len(got)
    assert {(r.key, r.fleet) for r in pipe.enriched().collect()} == {
        (k, f"fleet{int(k[7:-1]) % 2}") for (_, k, _) in got
    }
    pipe.update_enrich_dim(spark.createDataFrame(
        [("{carId=2}", "fleetX")], "key string, fleet string"
    ))
    upd = {r.fleet for r in pipe.enriched().filter("key = '{carId=2}'").collect()}
    assert upd == {"fleetX"}

    # 5) anomaly stage: ONLY car 3's planted spike flags
    an = pipe.anomalies().collect()
    assert {r.carId for r in an} == {3} and abs(an[0].zscore) > 3.0

    # 6) cooldown: every window fires (AVG > 0), but each car emits at
    # most ceil(70s span / 60s cooldown) + 1 = 2 alerts; replay added
    # none; at least one re-fire was suppressed
    assert pipe.alerts().count() == n_alerts
    per_key = {
        r.key: r.n
        for r in pipe.alerts().groupBy("key").agg(F.count("*").alias("n")).collect()
    }
    fired = sum(1 for v in got.values() if v[1])
    assert fired >= 21
    assert all(1 <= v <= 2 for v in per_key.values())
    assert sum(per_key.values()) < fired  # suppression really happened


def test_anomaly_history_compaction_bounded_and_equivalent(spark, tmp_path):
    """ANOMALY_COMPACT_EVERY folds strictly-older history partials into
    the batch=-1 base: directory count stays bounded, scoring totals
    unchanged, latest-batch replay still an idempotent overwrite."""
    import os as _os2

    reg = RuleRegistry()
    pipe = ActivePipeline(
        spark=spark,
        registry=reg,
        work_dir=str(tmp_path / "wk"),
        anomaly_key_cols=["carId"],
        anomaly_value_col="speed",
        anomaly_bucket_ms=3_600_000,
        anomaly_lookback=3,
        anomaly_min_periods=2,
        anomaly_threshold=3.0,
    )
    pipe.ANOMALY_COMPACT_EVERY = 2
    HOUR = 3600
    # slightly varying totals: a zero-variance baseline z-scores NULL
    # by design, which would make the spike assertion vacuous
    speeds = [49.0, 50.0, 51.0]
    for b in range(3):  # batch 2 compacts 0+1 into the base
        pipe.process_batch(
            car_df(spark, [(1, b * HOUR, speeds[b]), (1, b * HOUR + 1, speeds[b])]),
            b,
        )
    dirs = sorted(
        d
        for d in _os2.listdir(pipe.anomaly_history_path)
        if d.startswith("batch=")
    )
    assert dirs == ["batch=-1", "batch=2"]
    # totals preserved: 3 hourly buckets (98/100/102) for car 1
    hist = (
        spark.read.parquet(pipe.anomaly_history_path)
        .groupBy("carId", "bucket_ms")
        .sum("x")
        .collect()
    )
    assert sorted(r["sum(x)"] for r in hist) == [98.0, 100.0, 102.0]
    # replay of the compacting batch: overwrite, not double-count
    pipe.process_batch(
        car_df(spark, [(1, 2 * HOUR, 51.0), (1, 2 * HOUR + 1, 51.0)]), 2
    )
    hist2 = (
        spark.read.parquet(pipe.anomaly_history_path)
        .groupBy("carId", "bucket_ms")
        .sum("x")
        .collect()
    )
    assert sorted(r["sum(x)"] for r in hist2) == [98.0, 100.0, 102.0]
    # a spike after compaction still flags against the folded baseline
    pipe.process_batch(
        car_df(spark, [(1, 3 * HOUR + i, 200.0) for i in range(10)]), 3
    )
    anoms = pipe.anomalies().collect()
    assert any(r["carId"] == 1 and r["zscore"] > 3 for r in anoms)


@pytest.mark.slow
def test_eca_multigeneration_soak(spark, tmp_path):
    """Round-10 soak (VERDICT r9 item 7): the FULL feedback cycle at
    depth — parent → child → grandchild across two trigger keys, a
    restart + verbatim at-least-once batch REPLAY mid-soak, and a TTL
    expiry mid-stream — pinned to a golden spawn/alert sequence.

    Timeline (W1 rules; parent AVG>120/10s, child MAX>50/5s,
    grandchild SUM>0/5s, children keyed $carId):
      b0: car9 @130  -> P fires(9), spawns C9
      b1: car9 @60   -> C9 fires, spawns G9;  car7 @140 -> P fires(7),
                        spawns C7
      --- restart (reload registry + same work_dir), then REPLAY b1
          verbatim: no re-emission, no duplicate spawns, ids stable ---
      --- C9's TTL expires mid-stream (swept before b2 evaluates) ---
      b2: car9 @60   -> G9 fires; the expired C9 must NOT fire/spawn
      b3: car7 @60   -> C7 fires, spawns G7
      b4: car7 @5    -> G7 fires
    Golden: exactly one alert per (generation x car), six total."""
    from activedatawarehouseprototype_spark.streaming.registry import _now_ms

    grandchild_t = {
        "queryId": 3,
        "queryState": "ACTIVE",
        "lastTime": 300000,
        "windowMilliseconds": 5000,
        "frequencyMilliseconds": 0,
        "groupingKeyNames": ["$carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "SUM",
        "limitOperatorType": ">",
        "limit": 0,
        "aggregateFieldName": "speed",
    }
    child_t = {
        "queryId": 2,
        "queryState": "ACTIVE",
        "lastTime": 300000,
        "windowMilliseconds": 5000,
        "frequencyMilliseconds": 0,
        "groupingKeyNames": ["$carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "MAX",
        "limitOperatorType": ">",
        "limit": 50,
        "aggregateFieldName": "speed",
        "alertRules": [grandchild_t],
    }
    parent = {
        "queryId": 1,
        "queryState": "ACTIVE",
        "lastTime": -1,
        "windowMilliseconds": 10000,
        "frequencyMilliseconds": 0,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "AVG",
        "limitOperatorType": ">",
        "limit": 120,
        "aggregateFieldName": "speed",
        "alertRules": [child_t],
    }
    reg_path = str(tmp_path / "rules.jsonl")
    wk = str(tmp_path / "wk")
    reg = RuleRegistry(persist_path=reg_path)
    reg.apply_json(json.dumps(parent))
    p1 = ActivePipeline(spark=spark, registry=reg, work_dir=wk)

    def kid_of(registry, parent_id, car):
        kids = [
            r
            for r in registry.active()
            if r.active_id == parent_id
            and any(
                f.field == "carId" and f.value == str(car)
                for f in r.window_filter_rules
            )
        ]
        assert len(kids) == 1, f"expected one child of {parent_id} for car {car}"
        return kids[0]

    # b0: parent fires for car 9 -> C9 spawned, carrying G template
    p1.process_batch(car_df(spark, [(9, 1, 130.0)]), 0)
    c9 = kid_of(reg, 1, 9)
    assert c9.alert_rules, "grandchild template must travel with the child"

    # b1: C9 fires -> G9; parent fires for car 7 -> C7
    b1 = car_df(spark, [(9, 11, 60.0), (7, 11, 140.0)])
    p1.process_batch(b1, 1)
    g9 = kid_of(reg, c9.query_id, 9)
    c7 = kid_of(reg, 1, 7)
    assert not g9.alert_rules, "generation-3 rule ends the chain"
    before = {(r.query_id, r.active_id) for r in reg.active()}
    assert len(before) == 4  # P, C9, G9, C7

    # --- restart mid-soak: reload registry, same work_dir ---
    reg2 = RuleRegistry.load(reg_path)
    reg2.persist_path = reg_path
    p2 = ActivePipeline(spark=spark, registry=reg2, work_dir=wk)
    assert {(r.query_id, r.active_id) for r in reg2.active()} == before

    # verbatim at-least-once replay of b1: nothing re-emitted, nothing
    # re-spawned, every id stable
    n_evals, n_alerts = p2.evaluations().count(), p2.alerts().count()
    p2.process_batch(b1, 1)
    assert p2.evaluations().count() == n_evals
    assert p2.alerts().count() == n_alerts
    assert {(r.query_id, r.active_id) for r in reg2.active()} == before

    # --- C9's TTL passes mid-stream: swept before b2 evaluates ---
    reg2.rules[c9.query_id].active_time = _now_ms() - 1
    p2.process_batch(car_df(spark, [(9, 21, 60.0)]), 2)  # would refire C9
    assert c9.query_id not in reg2.rules, "expired child must be swept"
    assert {(r.query_id, r.active_id) for r in reg2.active()} == before - {
        (c9.query_id, 1)
    }  # and in particular: no new spawn from the dead child

    # b3: C7 fires -> G7; b4: G7 fires
    p2.process_batch(car_df(spark, [(7, 31, 60.0)]), 3)
    g7 = kid_of(reg2, c7.query_id, 7)
    p2.process_batch(car_df(spark, [(7, 41, 5.0)]), 4)

    # --- golden spawn/alert sequence ---
    lineage = {
        1: "P",
        c9.query_id: "C",
        c7.query_id: "C",
        g9.query_id: "G",
        g7.query_id: "G",
    }
    got = sorted(
        (lineage[r["query_id"]], r["key"]) for r in p2.alerts().collect()
    )
    assert got == sorted(
        [
            ("P", "{carId=9}"),
            ("P", "{carId=7}"),
            ("C", "{carId=9}"),  # exactly once: b2's refire was expired
            ("C", "{carId=7}"),
            ("G", "{carId=9}"),
            ("G", "{carId=7}"),
        ]
    )


def test_rule_born_batch_id_roundtrip():
    """bornBatchId (internal replay-idempotence field) survives JSON
    persistence, and reference-shaped rules (no field) serialize
    WITHOUT it — byte-compat with the reference wire schema."""
    plain = Rule.from_json(json.dumps(dict(SPEEDING_RULE, alertRules=[])))
    assert plain.born_batch_id is None
    assert "bornBatchId" not in plain.to_json()
    plain.born_batch_id = 7
    again = Rule.from_json(plain.to_json())
    assert again.born_batch_id == 7


def test_born_batch_scoping_grouped_path(spark, pipeline):
    """The born-batch event gate must hold when many same-born rules
    share the one fanned-out plan: ten children born in batch 0 must aggregate
    ONLY batch-1 events — a 20s window that would otherwise also see
    the batch-0 event."""
    reg = pipeline.registry
    n = 10
    for i in range(n):
        r = Rule.from_dict(
            {
                "queryId": 100 + i,
                "queryState": "ACTIVE",
                "lastTime": -1,
                "windowMilliseconds": 20000,
                "frequencyMilliseconds": 0,
                "groupingKeyNames": ["carId"],
                "windowFilterRules": [
                    {"field": "carId", "operator": "=", "value": str(i)}
                ],
                "aggregatorFunctionType": "AVG",
                "limitOperatorType": ">",
                "limit": 0,
                "aggregateFieldName": "speed",
            }
        )
        r.born_batch_id = 0
        reg.apply(r)
    pipeline.process_batch(
        car_df(spark, [(i, 1, 100.0) for i in range(n)]), 0
    )
    assert pipeline.evaluations().count() == 0  # born gate: skip batch 0
    pipeline.process_batch(
        car_df(spark, [(i, 11, 10.0) for i in range(n)]), 1
    )
    evals = pipeline.evaluations().collect()
    assert len(evals) == n
    # 10.0, not 55.0: the batch-0 event is invisible to born-0 rules
    assert {r["agg_value"] for r in evals} == {10.0}
    assert {r["query_id"] for r in evals} == {100 + i for i in range(n)}


def _sum_rule(qid, key="carId", filters=(), **extra):
    d = {
        "queryId": qid, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 60_000, "frequencyMilliseconds": None,
        "groupingKeyNames": [key], "windowFilterRules": list(filters),
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 0, "aggregateFieldName": "speed",
    }
    return Rule.from_dict(dict(d, **extra))


def test_rule_output_independent_of_rule_set(spark, tmp_path):
    """A rule's evaluations must not depend on how many other rules
    run beside it. The key column holds both NULL and the literal
    string 'null', which render to the same composite key: the rule
    alone and the rule among nine others must agree, and both merge
    the two into one group (reference parity — DynamicKeyFunction
    keys by the rendered string)."""
    events = spark.createDataFrame(
        [
            (None, BASE + dt.timedelta(seconds=1), 10.0),
            ("null", BASE + dt.timedelta(seconds=2), 20.0),
            ("A", BASE + dt.timedelta(seconds=3), 40.0),
            ("A", BASE + dt.timedelta(seconds=100), 0.0),  # closes [0, 60s)
        ],
        "plate string, ts timestamp, speed double",
    )

    def run(rules, name):
        reg = RuleRegistry()
        for r in rules:
            reg.apply(r)
        pipe = ActivePipeline(
            spark=spark, registry=reg, work_dir=str(tmp_path / name)
        )
        pipe.process_batch(events, 0)
        return sorted(
            (r["key"], r["window_start"], r["agg_value"], r["fired"])
            for r in pipe.evaluations().filter("query_id = 1").collect()
        )

    alone = run([_sum_rule(1, key="plate")], "alone")
    others = [
        _sum_rule(
            200 + i,
            key="plate",
            filters=[{"field": "speed", "operator": ">", "value": str(i)}],
        )
        for i in range(9)
    ]
    among = run([_sum_rule(1, key="plate"), *others], "among")
    assert alone == among
    assert [(k, v) for k, _, v, _ in alone] == [
        ("{plate=A}", 40.0),
        ("{plate=null}", 30.0),
    ]


def test_wire_and_children_one_grouped_call(spark, pipeline, monkeypatch):
    """Wire rules and children born in two different batches evaluate
    in ONE grouped plan per batch, each child still scoped to events
    ingested after its birth batch."""
    import activedatawarehouseprototype_spark.streaming.pipeline as P

    reg = pipeline.registry
    reg.apply(_sum_rule(1))
    for qid, born in ((2, 0), (3, 1)):
        child = _sum_rule(qid)
        child.born_batch_id = born
        reg.apply(child)
    pipeline.process_batch(car_df(spark, [(1, 1, 10.0)]), 0)
    pipeline.process_batch(car_df(spark, [(1, 2, 20.0)]), 1)

    calls = []
    orig = P.evaluate_rules_grouped

    def spy(buffer, rules, **kw):
        calls.append(sorted(r.query_id for r in rules))
        return orig(buffer, rules, **kw)

    monkeypatch.setattr(P, "evaluate_rules_grouped", spy)
    pipeline.process_batch(car_df(spark, [(1, 3, 40.0), (1, 100, 0.0)]), 2)
    assert calls == [[1, 2, 3]]
    got = {
        r["query_id"]: r["agg_value"]
        for r in pipeline.evaluations()
        .filter(F.col("window_start") == F.lit(BASE))
        .collect()
    }
    # wire: every batch; born 0: batches 1-2; born 1: batch 2 only
    assert got == {1: 70.0, 2: 60.0, 3: 40.0}
