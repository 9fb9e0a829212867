"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from outside the program: ``Tracer.patch`` swaps a
public function or method for a wrapper that opens a span around the
call, the way a profiler would, and ``Tracer.restore`` puts the
originals back. Spans stay in memory until ``write``.

Spark's own accounting comes from the event log, which the traced run
enables through ``get_spark(extra_conf=event_log_conf(...))``. ``EventLog`` reads it
after the session stops, and ``attribute`` hands each job to the
innermost span that was open when the job was submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

def event_log_conf(log_dir: str) -> dict[str, str]:
    """One uncompressed, unrolled JSON event log in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


PY_WORKER_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": len(self.spans),
            "parent": stack[-1] if stack else None,
            "name": name,
            "t0": time.time(),
            "t1": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()

    def patch(self, owner, attr: str, name, after=None) -> None:
        """Wrap ``owner.attr`` in a span. ``name`` is a span name or a
        function of the call's arguments returning one (None: no span);
        ``after(span or None, args, kwargs, result)`` runs once the call
        returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            if span_name is None:
                rec, out = None, orig(*args, **kwargs)
            else:
                with tracer.span(span_name) as rec:
                    out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- queries over recorded spans --------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["t1"] is not None]

    def under(self, root: dict) -> list[dict]:
        """``root`` and every span nested below it."""
        ids = {root["id"]}
        out = [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def self_time(self, span: dict) -> float:
        kids = [s for s in self.spans[span["id"] + 1:] if s["parent"] == span["id"]]
        return dur(span) - sum(dur(k) for k in kids if k["t1"] is not None)


def dur(span: dict) -> float:
    return span["t1"] - span["t0"]


class EventLog:
    """Jobs and per-job task totals from one Spark event log."""

    def __init__(self, log_dir: str):
        files = glob.glob(os.path.join(log_dir, "*"))
        if len(files) != 1:
            raise FileNotFoundError(f"expected one plain event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        task_rows: list[tuple[int, dict]] = []
        with open(files[0]) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                self.jobs[jid] = {
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "tasks": 0,
                    **{k: 0.0 for k in TASK_FIELDS},
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                task_rows.append((ev["Stage ID"], task_totals(ev)))
        for sid, tot in task_rows:
            job = self.jobs.get(stage_job.get(sid))
            if job is None:
                continue
            job["tasks"] += 1
            for k, v in tot.items():
                job[k] += v

    def attribute(self, tracer: Tracer) -> dict[int, int | None]:
        """job id -> id of the innermost span open at submission."""
        spans = [s for s in tracer.spans if s["t1"] is not None]
        out = {}
        for jid, job in self.jobs.items():
            best = None
            for s in spans:
                if s["t0"] <= job["t0"] <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                    best = s
            out[jid] = None if best is None else best["id"]
        return out

    def busy_seconds(self, t0: float, t1: float) -> float:
        """Time inside [t0, t1] during which at least one job ran."""
        iv = sorted(
            (max(j["t0"], t0), min(j["t1"] or t1, t1))
            for j in self.jobs.values()
            if j["t0"] < t1 and (j["t1"] or t1) > t0
        )
        busy, end = 0.0, t0
        for a, b in iv:
            a = max(a, end)
            if b > a:
                busy += b - a
                end = b
        return busy


TASK_FIELDS = (
    "task_run_s",
    "task_cpu_s",
    "sched_delay_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
    "output_bytes",
    "py_worker_bytes",
)


def task_totals(ev: dict) -> dict[str, float]:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    # the Spark UI's definition of scheduler delay
    sched_ms = max(
        0,
        wall_ms
        - run_ms
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0),
    )
    sr = m.get("Shuffle Read Metrics", {})
    py = sum(
        int(a.get("Update", 0) or 0)
        for a in info.get("Accumulables", [])
        if a.get("Name") in PY_WORKER_ACCUMS
    )
    return {
        "task_run_s": run_ms / 1000.0,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "sched_delay_s": sched_ms / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "py_worker_bytes": py,
    }


def spark_layer(
    log: EventLog, tracer: Tracer, ops: list[dict], cores: int
) -> dict[str, float]:
    """Spark engine totals per operation over the jobs submitted inside
    ``ops`` (a batch or query span each), plus the share of the
    operations' wall time × cores that tasks spent running."""
    owner = log.attribute(tracer)
    inside: set[int] = set()
    for op in ops:
        inside |= {s["id"] for s in tracer.under(op)}
    tot = defaultdict(float)
    for jid, sid in owner.items():
        if sid in inside:
            tot["jobs"] += 1
            tot["tasks"] += log.jobs[jid]["tasks"]
            for k in TASK_FIELDS:
                tot[k] += log.jobs[jid][k]
    n = max(len(ops), 1)
    wall = sum(dur(op) for op in ops)
    out = {f"spark.{k}": tot[k] / n for k in TASK_FIELDS}
    out["spark.busy_core_frac"] = tot["task_run_s"] / (wall * cores) if wall else 0.0
    out["jobs_per_op"] = tot["jobs"] / n
    out["tasks_per_op"] = tot["tasks"] / n
    return out
