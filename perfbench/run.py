"""Repository benchmark: one workload per invocation, on local[4].

    python3 perfbench/run.py --workload eca_loop --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md): ``eca_loop`` (the paper's ECA
stream with a standing fan-out of wire rules) and ``corpus_core``
(seven batch queries). ``--seconds`` sets how much work is timed: the
number of timed stream batches or corpus passes is derived from it
alone, never from how fast the host runs, so every run of a setting
times the same work. Every run generates its inputs from ``--seed``
inside ``.bench_work/`` of the checkout, checks the outputs against
DuckDB references, and prints the metrics as a table and, on the last
line, as one JSON object. ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json; ``--trace 1`` wraps the program's public calls in
spans, enables the Spark event log, and reports the per-layer metrics
instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("eca_loop", "corpus_core")
DEADLINE_S = 150  # a stream that has not finished by then is stopped
# units of the table lines that are not metrics of BENCHMARK.json
TABLE_UNITS = {
    "peak_rss_mb": "MB",
    "events_per_s": "events/s",
    "batch_p50_s": "s",
    "query_p50_s": "s",
    "batch_s": "s",
    "batch_cpu_s": "s",
    "pass_s": "s",
    "events_per_batch": "events",
    "timed_batches": "count",
    "timed_passes": "count",
    "failed_frac": "ratio",
}


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--seconds", type=float, required=True,
        help="measurement budget; sets the number of timed batches or passes",
    )
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cores", type=int, default=4,
        help="local[N] master; 1 gives the single-thread baseline",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = process_start()
    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM Spark starts (launcher and driver): temp files here, and
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        return run(args, t_start, bench_root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, t_start: float, bench_root: str, work: str) -> int:
    from pyspark import SparkContext

    from activedatawarehouseprototype_spark.session import get_spark
    from perfbench import corpus_core, streams
    from perfbench.cpu import CpuSampler
    from perfbench.trace import EventLog, Tracer, event_log_conf

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    tracer = counts = None
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(event_log_conf(log_dir))
        tracer, counts = Tracer(), {}
        if args.workload == "corpus_core":
            corpus_core.install_corpus_tracing(tracer)
        else:
            streams.install_stream_tracing(tracer, counts)

    cpu = CpuSampler().start()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{args.cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    gateway = SparkContext._gateway
    try:
        deadline = t_start + DEADLINE_S
        if args.workload == "corpus_core":
            passes = corpus_core.timed_passes(args.seconds)
            result = corpus_core.corpus_core(spark, work, args.seed, t_start, tracer, passes, cpu)
            pipe = None
            attempted, failed = result.attempted, result.failed_ops
        else:
            timed = streams.timed_batches(args.seconds)
            pipe, result = streams.eca_loop(spark, work, args.seed, t_start, deadline, timed, cpu)
            attempted, failed = result.attempted, len(result.failed_batches)
        e2e = result.end_to_end()
        rss = peak_rss_mb("self") + peak_rss_mb(gateway.proc.pid)
    finally:
        cpu.stop()
        if tracer is not None:
            tracer.restore()
        spark.stop()
        stop_jvm(gateway)

    report = {**e2e, "peak_rss_mb": rss, **result.report()}
    untraced_path = os.path.join(bench_root, f"untraced-{args.workload}.json")
    if args.trace:
        log = EventLog(os.path.join(work, "eventlog"))
        if args.workload == "corpus_core":
            layers = corpus_core.corpus_layers(tracer, log, args.cores)
        else:
            layers = streams.stream_layers(tracer, log, result, counts, pipe, args.cores)
        layers["process.peak_rss_mb"] = rss
        layers["trace.work_s"] = e2e["work_s"]
        layers["trace.overhead_frac"] = 0.0
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                base = json.load(f)["work_s"]
            layers["trace.overhead_frac"] = e2e["work_s"] / base - 1.0
        tracer.write(os.path.join(bench_root, f"trace-{args.workload}.json"))
        names = spec["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in names}
        report.update(layers)
    else:
        with open(untraced_path, "w") as f:
            json.dump(e2e, f)
        names = spec["end_to_end"]
        values = {m["name"]: e2e[m["name"]] for m in names}

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(TABLE_UNITS)
    print(f"workload {args.workload}  seed {args.seed}  local[{args.cores}]  trace {args.trace}")
    for k, v in report.items():
        shown = f"{v:.6g}" if isinstance(v, float) else str(v)
        print(f"  {k:32s} {shown} {units.get(k, '')}".rstrip())
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }))
    return 0


def stop_jvm(gateway) -> None:
    """Close the py4j gateway and wait for the JVM to exit (it exits
    when its stdin closes)."""
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
