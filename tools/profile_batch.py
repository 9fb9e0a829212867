"""Per-micro-batch profiler for ActivePipeline.process_batch: wall
time, Spark jobs and codegen compiles per batch and per phase, on the
single-rule workload bench.py's streaming_events_per_sec measures.

    N_EVENTS=1000000 N_BATCHES=4 [RULES=eca] python tools/profile_batch.py

Batch ``i`` holds the ``i``-th contiguous event-time slice, so every
batch after the first closes windows and emits. ``RULES=eca`` swaps the
single rule for eca_loop's 20 wire rules (perfbench/gen.py: the paper's
four ECA rules, one of which spawns children, plus 16 standing rules).

Jobs are counted through job groups and the status tracker
(``measure.JobCounter``); each count flushes the listener bus with one
sentinel job, whose time lands in the enclosing batch's wall time but
never in its job count. Codegen compiles are classes the JVM compiled
(``measure.codegen_compiles``): a steady batch whose plan only changes
in data-sized values should compile none."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.measure import JobCounter, codegen_compiles
from activedatawarehouseprototype_spark.session import get_spark
from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

N = int(os.environ.get("N_EVENTS", "1000000"))
BATCHES = int(os.environ.get("N_BATCHES", "4"))
RULES = os.environ.get("RULES", "single")


def _events(spark, n):
    import datetime as dt

    base = int(dt.datetime(2024, 1, 1).timestamp())
    return spark.range(n).select(
        "id",
        (F.col("id") % 5000).cast("int").alias("carId"),
        F.timestamp_seconds(F.lit(base) + F.col("id") / 1000.0).alias("ts"),
        (F.col("id") * 7 % 160).cast("double").alias("speed"),
    )


def _rules() -> list[dict]:
    if RULES == "eca":
        from perfbench import gen

        wire = gen.eca_rules()
        return [wire[k] for k in ("parent", "sliding", "per_event", "global")] + (
            gen.standing_rules()
        )
    return [
        {
            "queryId": 1,
            "queryState": "ACTIVE",
            "lastTime": -1,
            "windowMilliseconds": 10000,
            "frequencyMilliseconds": None,
            "groupingKeyNames": ["carId"],
            "windowFilterRules": [{"field": "speed", "operator": ">", "value": "20"}],
            "aggregatorFunctionType": "AVG",
            "limitOperatorType": ">",
            "limit": 120,
            "aggregateFieldName": "speed",
        }
    ]


def main():
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    jobs = JobCounter(spark, "profile-batch")

    def counters():
        return time.perf_counter(), jobs.count(), codegen_compiles(spark)

    def since(c0):
        c1 = counters()
        return c1[0] - c0[0], c1[1] - c0[1], c1[2] - c0[2]

    reg = RuleRegistry()
    for rule in _rules():
        reg.apply_json(json.dumps(rule))
    work = tempfile.mkdtemp(prefix="adw-prof-")
    try:
        pipe = ActivePipeline(spark=spark, registry=reg, work_dir=work)

        # phase instrumentation: wrap the interesting instance methods
        phases: dict[str, list] = {}

        def wrap(name):
            orig = getattr(pipe, name)

            def inner(*a, **kw):
                c0 = counters()
                out = orig(*a, **kw)
                phases.setdefault(name, []).append(since(c0))
                return out

            setattr(pipe, name, inner)

        for m in (
            "_update_buffer",
            "_persist_watermarks",
            "_poll_rules_dir",
            "_apply_alert_cooldown",
            "_write_evaluations",
        ):
            wrap(m)

        ev = _events(spark, N)
        per = -(-N // BATCHES)
        parts = [
            ev.filter(F.floor(F.col("id") / per) == i).drop("id").persist()
            for i in range(BATCHES)
        ]
        for p in parts:
            p.count()
        with jobs:
            all0 = counters()
            for i, p in enumerate(parts):
                c0 = counters()
                pipe.process_batch(p, i)
                dt, nj, nc = since(c0)
                print(f"batch {i}: {dt:.3f}s {nj} jobs {nc} codegen compiles")
            elapsed, nj, nc = since(all0)
        print(f"TOTAL: {elapsed:.3f}s, {nj} jobs, {nc} codegen compiles, "
              f"{N / elapsed:,.0f} events/s")
        for name, recs in phases.items():
            print(
                f"  {name}: {sum(r[0] for r in recs):.3f}s "
                f"{sum(r[1] for r in recs)} jobs "
                f"{sum(r[2] for r in recs)} codegen compiles "
                f"over {len(recs)} calls; last call: {recs[-1][1]} jobs "
                f"{recs[-1][2]} compiles"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
