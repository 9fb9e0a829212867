"""The stream workload, eca_loop.

It runs ``ActivePipeline.run_stream`` (its ``availableNow`` trigger)
over a directory of car-feed text files with ``maxFilesPerTrigger=1``
as a closed loop with one client: the files are all in the directory
before the stream starts, so each batch starts as soon as the previous
one finishes. Batch ``i`` is file ``i``. The first ``ECA_WARM`` batches
are set-up; a fixed number of timed batches follows, so every run
times the same batch indices.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException

from activedatawarehouseprototype_spark.sources.car_data import stream_car_files
from activedatawarehouseprototype_spark.sources.rule_source import RuleSource
from activedatawarehouseprototype_spark.streaming import pipeline as pipeline_mod
from activedatawarehouseprototype_spark.streaming.eca import SpawnThrottle
from activedatawarehouseprototype_spark.streaming.group_eval import group_shapes
from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

from perfbench import gen
from perfbench.cpu import CpuSampler
from perfbench.reference import EventTable, compare, read_evaluations
from perfbench.trace import EventLog, Tracer, dur, spark_layer


@dataclass
class StreamResult:
    warm: int  # untimed warm-up batches
    setup_s: float
    trigger_s: list[float]  # triggerExecution of every batch, by batch id
    cpu_s: list[float]  # CPU seconds of the process tree during each batch
    events: list[int]  # clean events per batch
    lines: list[int]  # source text lines per batch
    crashed: bool
    attempted: int = 0
    failed_batches: set[int] = field(default_factory=set)

    @property
    def timed(self) -> list[float]:
        return self.trigger_s[self.warm:]

    def end_to_end(self) -> dict[str, float]:
        timed = self.timed
        cpu = self.cpu_s[self.warm:]
        return {
            "setup_s": self.setup_s,
            "work_s": sum(timed),
            "cpu_s": sum(cpu),
        }

    def report(self) -> dict[str, object]:
        timed = self.timed
        ev = sum(self.events[self.warm : self.warm + len(timed)])
        return {
            "events_per_s": ev / sum(timed),
            "batch_p50_s": statistics.median(timed),
            "batch_tail_s": tail(timed),
            "timed_batches": len(timed),
            "batch_s": " ".join(f"{t:.3f}" for t in self.trigger_s),
            "batch_cpu_s": " ".join(f"{t:.3f}" for t in self.cpu_s),
            "events_per_batch": ev / len(timed),
            "failed_frac": len(self.failed_batches) / max(self.attempted, 1),
        }


def tail(samples: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return f"n/a (needs 11 samples, have {n})"
    k = n - 10
    return f"p{100 * k / n:.0f} = {sorted(samples)[k - 1]:.4f} s over {n} batches"


def _progress_start(progress) -> float:
    ts = progress["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


def drive(
    warm: int,
    timed: int,
    pipe: ActivePipeline,
    inputs: gen.EcaInputs,
    work: str,
    t_start: float,
    deadline: float,
    cpu: CpuSampler,
) -> tuple[float, list[float], list[float], bool]:
    """Write car files ``0 .. warm+timed-1`` and run the stream over
    that backlog until every file is a batch; batches ``0..warm-1`` are
    warm-up. Returns (set-up seconds, trigger seconds per batch, CPU
    seconds per batch, whether the query died or stopped short of the
    last file)."""
    src = os.path.join(work, "in")
    os.makedirs(src)
    mtime0 = time.time() - 3600
    n_files = warm + timed
    for i in range(n_files):
        # increasing mtimes: the source takes the oldest file first
        inputs.write(i, os.path.join(src, f"part-{i:05d}.txt"), mtime0 + i)

    # availableNow with one file per trigger: one batch per file, then
    # the query ends
    query = pipe.run_stream(stream_car_files(pipe.spark, src, max_files_per_trigger=1))
    try:
        query.awaitTermination(max(deadline - time.time(), 1.0))
        died = False
    except StreamingQueryException:
        died = True
    finally:
        query.stop()
    done = {p["batchId"]: p for p in query.recentProgress if p["numInputRows"] > 0}
    trig = [done[b]["durationMs"]["triggerExecution"] / 1000.0 for b in sorted(done)]
    if len(trig) <= warm:
        raise RuntimeError(f"stream ran {len(trig)} batches, none timed")
    starts = [_progress_start(done[b]) for b in sorted(done)]
    cpu_s = [cpu.between(t0, t0 + t) for t0, t in zip(starts, trig)]
    setup = starts[warm] - t_start
    return setup, trig, cpu_s, died or len(trig) < n_files


# -- tracing ---------------------------------------------------------------


def _writer_span(args, kwargs):
    path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
    if path.endswith("event_buffer.staging"):
        return "pipeline.buffer_prune"
    if "/event_buffer/" in path:
        return "pipeline.buffer_write"
    if any(f"/{d}/" in path for d in ("evaluations", "alerts", "latency")):
        return "pipeline.sink_write"
    return "pipeline.other_write"


def _dir_stats(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def install_stream_tracing(tracer: Tracer, counts: dict) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    def after_batch(rec, args, kwargs, out):
        pipe, bid = args[0], args[2]
        rec["batch_id"] = bid
        rec["buffer_bytes"], rec["buffer_files"] = _dir_stats(pipe.buffer_path)
        rec["active_rules"] = pipe.metrics["active_rules"]
        rec["events_ingested"] = pipe.metrics["events_ingested"]

    def after_grouped(rec, args, kwargs, out):
        rules = args[1]
        rec["rules_per_shape"] = len(rules) / max(len(group_shapes(rules)), 1)

    def spawn_attempt(rec, args, kwargs, out):
        counts["spawn_attempts"] = counts.get("spawn_attempts", 0) + 1

    def spawned(rec, args, kwargs, out):
        counts["spawned"] = counts.get("spawned", 0) + (out is not None)

    tracer.patch(ActivePipeline, "process_batch", "pipeline.batch", after_batch)
    tracer.patch(pipeline_mod, "evaluate_rules_grouped", "group_eval", after_grouped)
    tracer.patch(pipeline_mod, "evaluate_rule", "compiler")
    tracer.patch(pipeline_mod, "instantiate_child", None, spawned)
    tracer.patch(SpawnThrottle, "allow", None, spawn_attempt)
    tracer.patch(DataFrameWriter, "parquet", _writer_span)
    tracer.patch(RuleRegistry, "apply", "registry.apply")


def stream_layers(
    tracer: Tracer, log: EventLog, result: StreamResult, counts: dict, pipe, cores: int
) -> dict[str, float]:
    batches = [
        s for s in tracer.named("pipeline.batch") if s.get("batch_id", -1) >= result.warm
    ]
    n = max(len(batches), 1)
    inside = {b["id"]: tracer.under(b) for b in batches}

    def per_batch(name: str) -> float:
        return sum(dur(s) for b in batches for s in inside[b["id"]] if s["name"] == name) / n

    def calls(name: str) -> float:
        return sum(1 for b in batches for s in inside[b["id"]] if s["name"] == name) / n

    shapes = [
        s["rules_per_shape"]
        for b in batches
        for s in inside[b["id"]]
        if s["name"] == "group_eval"
    ]
    eng = spark_layer(log, tracer, batches, cores)
    ingested = {b["batch_id"]: b["events_ingested"] for b in tracer.named("pipeline.batch")}
    lines = result.lines
    dropped = [
        lines[b] - (ingested[b] - ingested.get(b - 1, 0))
        for b in ingested
        if result.warm <= b < len(lines)
    ]
    eval_rows = _rows_per_batch(pipe.evals_path, batches)
    alert_rows = _rows_per_batch(os.path.join(pipe.alerts_path, "data"), batches)
    attempts = counts.get("spawn_attempts", 0)
    out = {
        "pipeline.batch_s": sum(tracer.self_time(b) for b in batches) / n,
        "pipeline.jobs_per_batch": eng.pop("jobs_per_op"),
        "pipeline.tasks_per_batch": eng.pop("tasks_per_op"),
        "pipeline.driver_s": sum(
            dur(b) - log.busy_seconds(b["t0"], b["t1"]) for b in batches
        ) / n,
        "pipeline.buffer_write_s": per_batch("pipeline.buffer_write"),
        "pipeline.buffer_prune_s": per_batch("pipeline.buffer_prune"),
        "pipeline.buffer_bytes": sum(b["buffer_bytes"] for b in batches) / n,
        "pipeline.buffer_files": sum(b["buffer_files"] for b in batches) / n,
        "pipeline.sink_write_s": per_batch("pipeline.sink_write"),
        "pipeline.eval_rows": eval_rows,
        "pipeline.alert_rows": alert_rows,
        "group_eval.calls": calls("group_eval"),
        "group_eval.build_s": per_batch("group_eval"),
        "group_eval.rules_per_shape": statistics.mean(shapes) if shapes else 0.0,
        "compiler.evaluate_rule_calls": calls("compiler"),
        "compiler.build_s": per_batch("compiler"),
        "registry.active_rules": sum(b["active_rules"] for b in batches) / n,
        # rules change only in the warm-up batches: the whole stream
        "registry.apply_s": sum(dur(s) for s in tracer.named("registry.apply")),
        "eca.spawn_attempts": attempts,
        "eca.spawned": counts.get("spawned", 0),
        "eca.spawn_yield": counts.get("spawned", 0) / attempts if attempts else 0.0,
        "car_data.rows_in": statistics.mean(lines[result.warm:]) if dropped else 0.0,
        "car_data.rows_dropped": statistics.mean(dropped) if dropped else 0.0,
    }
    out.update(eng)
    return out


def _rows_per_batch(path: str, batches: list[dict]) -> float:
    rows = 0
    for b in batches:
        d = os.path.join(path, f"batch={b['batch_id']}")
        if os.path.isdir(d):
            rows += sum(
                pq.read_metadata(os.path.join(d, f)).num_rows
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    return rows / max(len(batches), 1)


# -- eca_loop ----------------------------------------------------------------


# Batches 0 and 1 pay the JIT and codegen for the plans and take the
# rule changes (spawns in batch 0, an arrival and a delete in batch 1);
# the timed batches run one steady rule set.
ECA_WARM = 2
ECA_BATCH_S = 6.5  # nominal seconds per timed batch on a 4-vCPU host


def timed_batches(seconds: float) -> int:
    """Timed batches for a ``--seconds`` budget. The count depends only
    on the budget, never on how fast this host runs, so every run of a
    setting times the same batch indices."""
    return max(1, round(seconds / ECA_BATCH_S))


class ScheduledRuleSource(RuleSource):
    """Delivers rule lines at fixed poll indices; the pipeline polls
    once per batch, so poll ``i`` is batch ``i``."""

    def __init__(self, schedule: dict[int, list[str]]):
        self.schedule = schedule
        self.polls = 0

    def poll(self) -> list[str]:
        lines = self.schedule.get(self.polls, [])
        self.polls += 1
        return lines


def eca_loop(
    spark, work: str, seed: int, t_start: float, deadline: float, timed: int, cpu: CpuSampler
):
    rules = gen.eca_rules()
    standing = gen.standing_rules()
    wire = ["parent", "sliding", "per_event", "global"]
    arrivals = {
        0: [json.dumps(rules[k]) for k in wire] + [json.dumps(r) for r in standing],
        gen.RULE_ARRIVES_AT: [json.dumps(rules["arriving"])],
    }
    arrivals.setdefault(gen.RULE_DELETED_AT, []).append(
        json.dumps({"queryId": rules["global"]["queryId"], "queryState": "DELETE"})
    )
    pipe = ActivePipeline(
        spark=spark,
        registry=RuleRegistry(),
        ts_col="eventTime",
        work_dir=os.path.join(work, "pipeline"),
        rule_source=ScheduledRuleSource(arrivals),
    )
    inputs = gen.EcaInputs(seed)
    setup, trig, cpu_s, crashed = drive(
        ECA_WARM, timed, pipe, inputs, work, t_start, deadline, cpu
    )
    files = inputs.files[: len(trig)]
    result = StreamResult(
        warm=ECA_WARM,
        setup_s=setup,
        trigger_s=trig,
        cpu_s=cpu_s,
        events=[len(f.car) for f in files],
        lines=[len(f.lines) for f in files],
        crashed=crashed,
    )
    check_eca(pipe, files, rules, standing, result)
    return pipe, result


def check_eca(pipe, files, rules, standing, result: StreamResult) -> None:
    n = len(files)
    table = EventTable(
        {
            "carId": np.concatenate([f.car for f in files]),
            "eventTime": np.concatenate([f.ts_s for f in files]).astype("datetime64[s]").astype("datetime64[us]"),
            "speed": np.concatenate([f.speed for f in files]),
        },
        np.concatenate([np.full(len(f.car), i) for i, f in enumerate(files)]),
        "eventTime",
    )
    try:
        parent = table.expected(rules["parent"], "1")
        frames = [
            parent,
            table.expected(rules["sliding"], "2"),
            table.expected(rules["per_event"], "3"),
            table.expected(rules["global"], "4", last_batch=min(gen.RULE_DELETED_AT - 1, n - 1)),
        ]
        frames += [table.expected(r, str(r["queryId"])) for r in standing]
        a = gen.RULE_ARRIVES_AT
        if a < n:
            widest = max(
                r["windowMilliseconds"]
                for r in [*rules.values(), *standing]
            )
            cov = int(table.close_ms[a - 1]) - widest
            frames.append(
                table.expected(
                    rules["arriving"], "5", first_batch=a,
                    floor_ms=cov + rules["arriving"]["windowMilliseconds"] - 1,
                )
            )
        template = rules["parent"]["alertRules"][0]
        born = {}
        for key, b in table.fired_keys(parent).items():
            car = int(key.strip("{}").split("=")[1])
            born[car] = b
            child = dict(
                template,
                groupingKeyNames=[k.lstrip("$") for k in template["groupingKeyNames"]],
                windowFilterRules=[{"field": "carId", "operator": "=", "value": str(car)}],
            )
            frames.append(
                table.expected(child, f"1/{car}", first_batch=b + 1, where=f"carId = {car} AND batch > {b}")
            )
    finally:
        table.close()
    expected = pd.concat(frames, ignore_index=True)

    rid = {r["queryId"]: str(r["queryId"]) for r in [*rules.values(), *standing]}
    spawned = {}
    for r in pipe.registry.rules.values():
        if r.active_id == rules["parent"]["queryId"]:
            car = int(next(f.value for f in r.window_filter_rules if f.field == "carId"))
            rid[r.query_id] = f"1/{car}"
            spawned[car] = r.born_batch_id
    actual = read_evaluations(pipe.evals_path)
    actual["rid"] = actual["query_id"].map(lambda q: rid.get(q, f"unknown:{q}"))
    failed = compare(actual, expected)
    for car in set(born) | set(spawned):
        if born.get(car) != spawned.get(car):
            failed.add(born.get(car, spawned.get(car)))
    if pipe.metrics["rules_spawned"] != len(born):
        failed.add(n - 1)
    if pipe.metrics["events_ingested"] != sum(result.events):
        failed.add(n - 1)
    result.attempted = n + (1 if result.crashed else 0)
    if result.crashed:
        failed.add(n)
    result.failed_batches = failed
