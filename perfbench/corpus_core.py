"""corpus_core: seven of ``bench.py``'s ``BENCH_CORE`` queries over
generated star-schema tables, each query fully executed through
the noop sink.

Set-up runs every query once and compares its collected result with
its DuckDB oracle, the way ``tests/oracle_harness`` does; that pass
also fills the JIT, codegen and Python-worker caches. Timed passes
then run the whole list again; each query's time is its median over
the passes.
"""

from __future__ import annotations

import statistics
import sys
import time

from activedatawarehouseprototype_spark import catalog
from activedatawarehouseprototype_spark.corpus import ORACLES, QUERIES

from perfbench import gen
from perfbench.cpu import CpuSampler
from perfbench.trace import EventLog, Tracer, spark_layer

# A subset of bench.py's BENCH_CORE: one query per family it covers
# (rules, TPC-H join/agg, top-k, ANN, retrieval, iterative graph).
# The full 13-query list costs about 80 s per run at local[4]; these
# seven keep a run under a minute.
CORE = [
    "rule_tumbling_avg",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "topk_customers_by_spend",
    "ann_ivf_topk",
    "bm25_topk_docs",
    "graph_pagerank_suppliers",
]


PASS_S = 7.0  # nominal seconds per timed pass on a 4-vCPU host


def timed_passes(seconds: float) -> int:
    """Timed passes for a ``--seconds`` budget, independent of host speed."""
    return max(1, round(seconds / PASS_S))


class CorpusResult:
    def __init__(
        self,
        setup_s: float,
        runs: dict[str, list[float]],
        cpu: dict[str, list[float]],
        failed: set[str],
    ):
        self.setup_s = setup_s
        self.runs = runs  # timed seconds of each query, one per pass
        self.failed = failed  # queries that raised or mismatched
        self.per_query = {q: statistics.median(t) for q, t in runs.items()}
        self.cpu_per_query = {q: statistics.median(c) for q, c in cpu.items()}

    @property
    def passes(self) -> int:
        return len(next(iter(self.runs.values())))

    @property
    def attempted(self) -> int:
        return (1 + self.passes) * len(CORE)  # the checked run and the timed runs

    @property
    def failed_ops(self) -> int:
        return (1 + self.passes) * len(self.failed)

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "work_s": sum(self.per_query.values()),
            "cpu_s": sum(self.cpu_per_query.values()),
        }

    def report(self) -> dict[str, object]:
        return {
            "query_p50_s": statistics.median(self.per_query.values()),
            "timed_passes": self.passes,
            "pass_s": " ".join(
                f"{sum(t[i] for t in self.runs.values()):.3f}" for i in range(self.passes)
            ),
            "failed_frac": self.failed_ops / self.attempted,
            "failed_queries": sorted(self.failed),
        }


def check(spark, sf_dir: str) -> set[str]:
    """Run every query once against its DuckDB oracle."""
    from tests.oracle_harness import compare, run_oracle

    failed = set()
    for name in CORE:
        try:
            problems = compare(QUERIES[name](spark, sf_dir), run_oracle(ORACLES[name], sf_dir))
        except Exception as e:  # a query that raises is a failed operation
            problems = [repr(e)]
        if problems:
            print(f"corpus_core: {name} differs from its oracle: {problems[:3]}", file=sys.stderr)
            failed.add(name)
    return failed


def run_query(spark, name: str, sf_dir: str, tracer: Tracer | None) -> None:
    if tracer is None:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return
    with tracer.span("corpus.query", query=name):
        with tracer.span("corpus.build"):
            df = QUERIES[name](spark, sf_dir)
        with tracer.span("corpus.exec"):
            df.write.format("noop").mode("overwrite").save()


def corpus_core(
    spark,
    work: str,
    seed: int,
    t_start: float,
    tracer: Tracer | None,
    passes: int,
    cpu: CpuSampler,
):
    sf_dir = f"{work}/sf"
    gen.write_corpus(seed, sf_dir)
    failed = check(spark, sf_dir)
    setup = time.time() - t_start
    runs = {name: [] for name in CORE}
    cpu_s = {name: [] for name in CORE}
    for _ in range(passes):
        for name in CORE:
            t0 = time.time()
            try:
                run_query(spark, name, sf_dir, tracer)
            except Exception as e:
                print(f"corpus_core: {name} raised {e!r}", file=sys.stderr)
                failed.add(name)
            t1 = time.time()
            runs[name].append(t1 - t0)
            cpu_s[name].append(cpu.between(t0, t1))
    return CorpusResult(setup, runs, cpu_s, failed)


def install_corpus_tracing(tracer: Tracer) -> None:
    """Span every ``catalog.load`` call, including the references the
    corpus modules imported by name."""
    orig = catalog.load
    for mod in list(sys.modules.values()):
        if getattr(mod, "load", None) is orig and mod.__name__.startswith(
            "activedatawarehouseprototype_spark"
        ):
            tracer.patch(mod, "load", "catalog.load")


def corpus_layers(tracer: Tracer, log: EventLog, cores: int) -> dict[str, float]:
    queries = tracer.named("corpus.query")
    n = max(len(queries), 1)

    def per_query(name: str) -> float:
        return sum(
            s["t1"] - s["t0"] for q in queries for s in tracer.under(q) if s["name"] == name
        ) / n

    eng = spark_layer(log, tracer, queries, cores)
    out = {
        "corpus.build_s": per_query("corpus.build"),
        "corpus.exec_s": per_query("corpus.exec"),
        "corpus.jobs_per_query": eng.pop("jobs_per_op"),
        "corpus.tasks_per_query": eng.pop("tasks_per_op"),
        "catalog.load_s": per_query("catalog.load"),
    }
    out.update(eng)
    return out
