"""Grouped (single-scan fan-out) N-rule evaluation must agree exactly
with the per-rule compiled-plan union (rules/compiler.py), across all
window modes — plus the driver-safety properties: bounded spawn
collect, quarantine of invalid rules, delimiter-proof key parsing."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.rules.compiler import evaluate_rules
from activedatawarehouseprototype_spark.rules.model import Rule
from activedatawarehouseprototype_spark.streaming.eca import parse_composite_key
from activedatawarehouseprototype_spark.streaming.group_eval import (
    evaluate_rules_grouped,
    validate_rule_fields,
)

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)


def events_df(spark):
    """Deterministic event mix: 3 cars, 2 types, 40 events over 2 min."""
    rows = []
    for i in range(40):
        rows.append(
            (
                i % 3 + 1,
                "a" if i % 2 == 0 else "b",
                BASE + dt.timedelta(seconds=i * 3),
                float((i * 37) % 100),
            )
        )
    return spark.createDataFrame(rows, "carId int, kind string, ts timestamp, speed double")


def mk(d):
    return Rule.from_dict(
        {
            "queryState": "ACTIVE",
            "windowFilterRules": [],
            "groupingKeyNames": ["carId"],
            "aggregateFieldName": "speed",
            "aggregatorFunctionType": "AVG",
            "limitOperatorType": ">",
            "limit": 50,
            **d,
        }
    )


RULES = [
    mk({"queryId": 1, "windowMilliseconds": 0}),  # W0
    mk({"queryId": 2, "windowMilliseconds": 10_000, "frequencyMilliseconds": 0}),  # W1
    mk({"queryId": 3, "windowMilliseconds": 30_000, "frequencyMilliseconds": 0,
        "aggregatorFunctionType": "MAX", "limitOperatorType": ">=", "limit": 90}),  # W1'
    mk({"queryId": 4, "windowMilliseconds": 60_000}),  # W2 AVG
    mk({"queryId": 5, "windowMilliseconds": 60_000, "aggregatorFunctionType": "SUM",
        "windowFilterRules": [{"field": "kind", "operator": "=", "value": "a"}]}),  # W2 filtered
    mk({"queryId": 6, "windowMilliseconds": 60_000, "frequencyMilliseconds": 20_000,
        "aggregatorFunctionType": "MIN", "limitOperatorType": "<", "limit": 10}),  # W3
    mk({"queryId": 7, "windowMilliseconds": 30_000,
        "aggregateFieldName": "COUNT_FLINK", "aggregatorFunctionType": "SUM",
        "groupingKeyNames": ["kind", "carId"], "limitOperatorType": ">=",
        "limit": 3}),  # W2 COUNT sentinel, composite key
    mk({"queryId": 8, "windowMilliseconds": 20_000,
        "windowFilterRules": [{"field": "speed", "operator": ">", "value": "40"}],
        "groupingKeyNames": []}),  # W2 keyless
]


def canon(df):
    return sorted(
        (
            r.query_id,
            r.key,
            r.window_start,
            r.window_end,
            None if r.agg_value is None else round(r.agg_value, 9),
            r.fired,
        )
        for r in df.collect()
    )


def test_grouped_equals_per_rule_union(spark):
    df = events_df(spark)
    got = canon(evaluate_rules_grouped(df, RULES))
    want = canon(evaluate_rules(df, RULES))
    assert got == want and len(got) > 0


def test_grouped_fired_only_alignment(spark):
    df = events_df(spark)
    grouped = evaluate_rules_grouped(df, RULES).filter("fired")
    union = evaluate_rules(df, RULES, fired_only=True)
    assert canon(grouped) == canon(union)


def test_validate_rule_fields_rejects_unknowns(spark):
    df = events_df(spark)
    dtypes = dict(df.dtypes)
    with pytest.raises(ValueError, match="unknown filter field"):
        validate_rule_fields(
            mk({"queryId": 9, "windowMilliseconds": 1000,
                "windowFilterRules": [{"field": "nope", "operator": "=", "value": "1"}]}),
            dtypes,
        )
    with pytest.raises(ValueError, match="unknown grouping key"):
        validate_rule_fields(
            mk({"queryId": 9, "windowMilliseconds": 1000,
                "groupingKeyNames": ["nope"]}),
            dtypes,
        )
    with pytest.raises(ValueError, match="not numeric"):
        validate_rule_fields(
            mk({"queryId": 9, "windowMilliseconds": 1000,
                "aggregateFieldName": "kind"}),
            dtypes,
        )
    # valid rule passes
    validate_rule_fields(RULES[1], dtypes)


def test_spawn_collect_bounded(spark, tmp_path):
    """A spawning rule firing on ~20k distinct keys must hand the
    driver at most spawn_collect_cap DISTINCT triggers — never the full
    fired set."""
    from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
    from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

    reg = RuleRegistry()
    reg.apply_json(json.dumps({
        "queryId": 1,
        "queryState": "ACTIVE",
        "lastTime": -1,
        "windowMilliseconds": 10_000,
        "frequencyMilliseconds": 0,
        "groupingKeyNames": ["carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "AVG",
        "limitOperatorType": ">",
        "limit": 0,  # fires on every event
        "aggregateFieldName": "speed",
        "alertRules": [{
            "queryId": 2,
            "queryState": "ACTIVE",
            "lastTime": -1,
            "windowMilliseconds": 5_000,
            "frequencyMilliseconds": 0,
            "groupingKeyNames": ["$carId"],
            "windowFilterRules": [],
            "aggregatorFunctionType": "MAX",
            "limitOperatorType": ">",
            "limit": 1e12,
            "aggregateFieldName": "speed",
        }],
    }))
    pipe = ActivePipeline(
        spark=spark, registry=reg, work_dir=str(tmp_path / "wk"),
        spawn_collect_cap=25,
    )
    n_keys = 20_000
    events = spark.range(n_keys).select(
        F.col("id").cast("int").alias("carId"),
        F.lit(BASE).cast("timestamp").alias("ts"),
        F.lit(99.0).alias("speed"),
    )
    pipe.process_batch(events, 0)
    # every key fired, but the driver saw at most the cap
    assert pipe.alerts().count() == n_keys
    assert pipe.metrics["rules_spawned"] <= 25
    assert len(reg.rules) <= 1 + 25


def test_parse_composite_key_hostile_values():
    # values containing the delimiters parse intact when key names known
    assert parse_composite_key("{a=x=y;z;b=2}", ["a", "b"]) == {
        "a": "x=y;z", "b": "2",
    }
    assert parse_composite_key("{u=a;b;c}", ["u"]) == {"u": "a;b;c"}
    assert parse_composite_key("{carId=9}", ["$carId"]) == {"carId": "9"}
    # naive fallback still works for clean values
    assert parse_composite_key("{a=1;b=x}") == {"a": "1", "b": "x"}


def test_same_shape_rules_share_aggregation(spark):
    """Threshold-tier rules (same filter/keys/window/field, different
    aggregator + threshold) must collapse to ONE shape: the fan-out
    carries one row per (event, shape), not per (event, rule), and the
    results still match the per-rule union exactly."""
    from activedatawarehouseprototype_spark.streaming.group_eval import (
        group_shapes,
        shape_fanout,
    )

    df = events_df(spark)
    tiers = [
        mk({"queryId": 30 + i, "windowMilliseconds": 60_000,
            "aggregatorFunctionType": fn, "limitOperatorType": op,
            "limit": lim,
            "windowFilterRules": [{"field": "kind", "operator": "=", "value": "a"}]})
        for i, (fn, op, lim) in enumerate(
            [("AVG", ">", 40), ("AVG", ">", 60), ("MAX", ">=", 90),
             ("SUM", ">", 500), ("MIN", "<", 5)]
        )
    ]
    shapes = group_shapes(tiers)
    assert len(shapes) == 1  # five rules, one shape
    n_fanout = shape_fanout(df, shapes).count()
    n_match = df.filter("kind = 'a'").count()
    assert n_fanout == n_match  # per (event, shape), NOT per (event, rule)

    got = canon(evaluate_rules_grouped(df, tiers))
    want = canon(evaluate_rules(df, tiers))
    assert got == want and len(got) > 0


def test_data_driven_fanout_path_equals_literal(spark, monkeypatch):
    """Above LITERAL_MAX_SHAPES the fan-out switches to the
    rules-as-data broadcast join — results must be identical."""
    import activedatawarehouseprototype_spark.streaming.group_eval as ge

    df = events_df(spark)
    want = canon(evaluate_rules_grouped(df, RULES))
    monkeypatch.setattr(ge, "LITERAL_MAX_SHAPES", 0)  # force BNLJ path
    got = canon(evaluate_rules_grouped(df, RULES))
    assert got == want and len(got) > 0


def test_w1_fused_many_sizes_equals_union(spark, tmp_path):
    """At >= W1_FUSE_MIN_SIZES distinct W1 window sizes the grouped
    evaluator fuses ALL W1 shapes into ONE shuffle + ONE Arrow pass
    (window size data-driven per shape). Values must equal the
    per-rule compiled union; the plan must scan the source ONCE and
    contain exactly one Arrow stage (the per-size RANGE path scanned
    once per distinct size)."""
    from activedatawarehouseprototype_spark.plans.explain import (
        parquet_scan_count,
    )
    from activedatawarehouseprototype_spark.streaming.group_eval import (
        W1_FUSE_MIN_SIZES,
    )

    sizes = [5_000, 10_000, 20_000, 30_000, 45_000, 60_000]
    assert len(sizes) >= W1_FUSE_MIN_SIZES
    aggs = ["AVG", "SUM", "MIN", "MAX"]
    w1_rules = [
        mk({
            "queryId": 100 + i,
            "windowMilliseconds": w,
            "frequencyMilliseconds": 0,
            "aggregatorFunctionType": aggs[i % 4],
        })
        for i, w in enumerate(sizes)
    ] + [
        # same-size second rule (shares the shape-level aggregation)
        mk({"queryId": 200, "windowMilliseconds": 10_000,
            "frequencyMilliseconds": 0, "limit": 70}),
        # a COUNT-sentinel W1 (null _value path through the fused pass)
        mk({"queryId": 201, "windowMilliseconds": 20_000,
            "frequencyMilliseconds": 0,
            "aggregateFieldName": "COUNT_FLINK",
            "aggregatorFunctionType": "SUM", "limitOperatorType": ">=",
            "limit": 3}),
    ]
    df = events_df(spark)
    got = canon(evaluate_rules_grouped(df, w1_rules))
    want = canon(evaluate_rules(df, w1_rules))
    assert got == want and len(got) > 0

    # plan shape: one source scan, one Arrow (FlatMapGroupsInPandas)
    pq = str(tmp_path / "w1events")
    df.write.parquet(pq)
    plan_df = evaluate_rules_grouped(spark.read.parquet(pq), w1_rules)
    assert parquet_scan_count(plan_df) == 1
    phys = plan_df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("FlatMapGroupsInPandas") == 1

    # below the threshold the JVM RANGE path still runs (no Arrow stage)
    few = w1_rules[: W1_FUSE_MIN_SIZES - 1]
    plan_few = evaluate_rules_grouped(spark.read.parquet(pq), few)
    assert "FlatMapGroupsInPandas" not in (
        plan_few._jdf.queryExecution().executedPlan().toString()
    )
    assert canon(plan_few) == canon(evaluate_rules(spark.read.parquet(pq), few))


def test_w0_rule_without_aggregate_field(spark):
    """A passthrough rule carrying NO aggregateFieldName is valid (the
    compiler's W0 path never reads it) — the grouped evaluator must
    not crash on F.col(None) and must agree with the per-rule path."""
    rule = Rule.from_dict(
        {
            "queryId": 90,
            "queryState": "ACTIVE",
            "windowFilterRules": [{"field": "kind", "operator": "=", "value": "a"}],
            "groupingKeyNames": ["carId"],
            "windowMilliseconds": 0,
        }
    )
    ev = events_df(spark)
    got = evaluate_rules_grouped(ev, [rule]).collect()
    want = evaluate_rules(ev, [rule]).collect()
    key = lambda r: (r.query_id, r.key, r.window_start)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) == 20  # kind == 'a' half


def test_fused_w1_all_null_window_yields_null_not_nan(spark):
    """>= W1_FUSE_MIN_SIZES distinct W1 sizes routes through the pandas
    rolling kernel; a key whose values are all NULL must yield NULL
    aggregates (not NaN, which Spark orders above every number and
    would FIRE `agg > limit`). The JVM RANGE path returns NULL for the
    same window — behavior must not flip with the size count."""
    rows = [
        (9, "a", BASE + dt.timedelta(seconds=i * 3), None) for i in range(6)
    ]
    ev = spark.createDataFrame(
        rows, "carId int, kind string, ts timestamp, speed double"
    )
    rules = [
        mk({"queryId": 100 + j, "windowMilliseconds": 10_000 * (j + 1),
            "frequencyMilliseconds": 0})
        for j in range(4)  # 4 distinct sizes -> fused path
    ]
    got = evaluate_rules_grouped(ev, rules).collect()
    assert len(got) == 6 * 4
    assert all(r.agg_value is None for r in got)
    assert not any(r.fired for r in got)
    # and the JVM (<4 sizes) path agrees
    jvm = evaluate_rules_grouped(ev, rules[:2]).collect()
    assert all(r.agg_value is None and not r.fired for r in jvm)


def test_steady_batches_reuse_compiled_classes(spark, tmp_path):
    """Codegen inlines primitive literals into the generated Java, so a
    value that changes every batch must ride a reference literal or
    row data (group_eval module docstring). Batch 3 runs the same rule
    set as batch 2 while every per-batch value moves: each rule's
    emitted watermark, the W2/W3 closing bound and the buffer's
    retention horizon. It must compile no new class."""
    from activedatawarehouseprototype_spark.measure import codegen_compiles
    from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
    from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

    def batch(i):
        rows = [
            (
                k % 3 + 1,
                "a" if k % 2 == 0 else "b",
                BASE + dt.timedelta(seconds=120 * i + 3 * k),
                float((k * 37 + i) % 100),
            )
            for k in range(40)
        ]
        return spark.createDataFrame(
            rows, "carId int, kind string, ts timestamp, speed double"
        )

    reg = RuleRegistry()
    for r in RULES:
        reg.apply(Rule.from_dict(r.to_dict()))
    pipe = ActivePipeline(
        spark=spark,
        registry=reg,
        work_dir=str(tmp_path / "wk"),
        buffer_bucket_ms=30_000,
    )
    for i in range(3):
        pipe.process_batch(batch(i), i)
    before = (dict(pipe._emitted_wm), pipe._max_event_ts, pipe._cov_start)
    c0 = codegen_compiles(spark)
    pipe.process_batch(batch(3), 3)
    compiled = codegen_compiles(spark) - c0
    after = (dict(pipe._emitted_wm), pipe._max_event_ts, pipe._cov_start)
    assert all(a != b for a, b in zip(after, before)), (before, after)
    assert pipe.metrics["alerts_fired"] > 0
    assert compiled == 0, f"a steady batch compiled {compiled} new classes"
