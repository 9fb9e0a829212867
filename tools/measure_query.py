"""Per-query measurement harness (optimization rounds, guide §1):

    python tools/measure_query.py [-n RUNS] [--plans DIR] [--suffix S] q1 q2 ...

Times each named corpus query with the noop sink (all columns of all
rows computed, nothing collected — guide §1.4) on the same session
bench.py uses, labels jobs (§1.5), reports every run plus warm-best,
and counts Spark jobs per run (job-submission overhead is a first-
class cost at sf0.1). With --plans it also writes
``<dir>/<name>_<suffix>.txt`` holding ``explain('formatted')`` of the
returned frame so plan claims are checkable without Spark."""

from __future__ import annotations

import argparse
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from activedatawarehouseprototype_spark.corpus import QUERIES  # noqa: E402
from activedatawarehouseprototype_spark.measure import JobCounter  # noqa: E402
from activedatawarehouseprototype_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", "--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark(app_name="adw-measure")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jobs = JobCounter(spark, "measure-query")

    # warm the parquet-reader stack outside any timed region
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from activedatawarehouseprototype_spark.catalog import load

    load(spark, args.sf_dir, "region").count()
    load(spark, args.sf_dir, "events").limit(1).count()

    for name in args.names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        runs = []
        for i in range(args.runs):
            with jobs:
                j0 = jobs.count()
                sc.setJobDescription(f"measure:{name}#{i}")
                t0 = time.perf_counter()
                df = fn(spark, args.sf_dir)
                t_build = time.perf_counter() - t0
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                runs.append((dt, jobs.count() - j0, t_build))
        best = min(r[0] for r in runs)
        detail = " ".join(
            f"{dt:.3f}s/{j}j(build {tb:.3f})" for dt, j, tb in runs
        )
        print(f"{name}: best {best:.3f}s | {detail}", flush=True)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            txt = df._jdf.queryExecution().explainString(
                df.sparkSession._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )
            path = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"  plan -> {path}", flush=True)


if __name__ == "__main__":
    main()
