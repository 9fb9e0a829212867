"""Command-line entry points for the engine.

    python -m activedatawarehouseprototype_spark.cli eval \
        --rule rule.json --events /data/events.parquet [--fired-only]

    python -m activedatawarehouseprototype_spark.cli run \
        --events-dir /data/stream --rules-dir /etc/rules --work-dir /var/adw

    python -m activedatawarehouseprototype_spark.cli sql --rule rule.json

    python -m activedatawarehouseprototype_spark.cli dedup \
        --input /data/docs.parquet --output /data/clusters [--mode minhash]

    python -m activedatawarehouseprototype_spark.cli decontaminate \
        --train /data/docs.parquet --bench /data/eval.parquet --output /data/contam

    python -m activedatawarehouseprototype_spark.cli sample \
        --input /data/docs.parquet --output /data/splits --key doc_id

``eval`` compiles one JSON rule and evaluates it over a parquet events
table (batch). ``run`` starts the active pipeline: streaming parquet
events, rules registered by dropping JSON files into --rules-dir,
alerts appended under --work-dir/alerts. ``sql`` prints the rule's
generated ANSI-SQL twin. ``dedup`` writes near-dup clusters (exact |
minhash modes); ``decontaminate`` writes the benchmark-contamination
pairs table; ``sample`` writes deterministic hash-based
train/val/test split assignments. This mirrors the reference's
operational surface (Kafka topic + file sources) on files, plus the
curation operators. ``--help`` lists every verb.

Every flag is checked before the Spark session starts, so a usage
error costs no JVM start: argparse rejects a missing or malformed flag
with exit status 2, and ``run`` exits with a message naming the
missing flags when a stage gets only part of its required ones. A
verb that writes a parquet output reports the row count of what it
wrote, read back, so its plan runs once.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark import session
from activedatawarehouseprototype_spark.catalog import load_parquet
from activedatawarehouseprototype_spark.operators import (
    abtest, basket, clustering, dedup, dedup_index, drift, fuzzy, graph, pca,
    quality, quantile_mv, regression, retrieval, robust, sampling, similarity,
    sketch_mv, skipping, text, text_index, timeseries, versioned, warehouse,
)
from activedatawarehouseprototype_spark.rules.compiler import evaluate_rule
from activedatawarehouseprototype_spark.rules.model import Rule
from activedatawarehouseprototype_spark.rules.sql_gen import rule_to_sql
from activedatawarehouseprototype_spark.sources.rule_source import DirectoryRuleSource
from activedatawarehouseprototype_spark.streaming.ingest import DedupIngest
from activedatawarehouseprototype_spark.streaming.pipeline import ActivePipeline
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry
from activedatawarehouseprototype_spark.streaming.stages import (
    AnomalyStage, CusumGate, DriftGate, MadGate, SummaryMV,
)


def _csv(spec: str) -> list[str]:
    """Comma-separated names; empty items are dropped."""
    return [v for v in spec.split(",") if v]


def _weights(spec: str) -> dict[str, float]:
    """``name=w,...`` split weights."""
    try:
        return {name: float(w) for name, w in (p.split("=") for p in spec.split(","))}
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expects name=weight,... with numeric weights — got {spec!r}"
        ) from None


def _keys(spec: str) -> list:
    """Comma-separated key values, typed as the column: integers parse
    as int, the rest stay strings."""

    def typed(v: str):
        try:
            return int(v)
        except ValueError:
            return v

    return [typed(v) for v in _csv(spec)]


def _bins(spec: str) -> tuple[float, float, int]:
    """``lo,hi,bins`` fixed histogram edges, checked here so a malformed
    value fails at the command line, not as an unpacking error deep
    inside the first micro-batch."""
    try:
        lo, hi, n = spec.split(",")
        return (float(lo), float(hi), int(n))
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expects lo,hi,bins with lo,hi numeric and bins integer — got {spec!r}"
        ) from None


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="adw-spark")
    p.set_defaults(spark=True)
    sub = p.add_subparsers(dest="cmd", required=True)

    # flag specs many verbs share with the same default and help
    inp = argparse.ArgumentParser(add_help=False)
    inp.add_argument("--input", required=True, help="input parquet path")
    out = argparse.ArgumentParser(add_help=False)
    out.add_argument("--output", required=True, help="output parquet path")
    doc = argparse.ArgumentParser(add_help=False)
    doc.add_argument("--id-col", default="doc_id")
    doc.add_argument("--text-col", default="text")
    vec = argparse.ArgumentParser(add_help=False)
    vec.add_argument("--id-col", default="vec_id")
    vec.add_argument("--vec-col", default="embedding")
    ts = argparse.ArgumentParser(add_help=False)
    ts.add_argument("--ts-col", default="ts")

    pe = sub.add_parser(
        "eval", parents=[ts], help="batch-evaluate one rule over parquet events"
    )
    pe.add_argument("--rule", required=True, help="path to rule JSON file")
    pe.add_argument("--events", required=True, help="events parquet path")
    pe.add_argument("--fired-only", action="store_true")
    pe.add_argument("--limit", type=int, default=20, help="rows to print")

    pr = sub.add_parser(
        "run",
        parents=[ts],
        help="run the active pipeline over a stream",
        description="Each micro-batch polls --rules-dir, buffers the "
        "events, evaluates every active rule over the buffer, writes "
        "evaluations and alerts under --work-dir, and spawns the child "
        "rules of fired ones. The --mv-*, --anomaly-*, --drift-*, "
        "--cusum-* and --mad-* flags each add one optional stage that "
        "reads the batch and writes its own directory; a stage's "
        "required flags must be given together.",
    )
    pr.set_defaults(run_error=pr.error)
    pr.add_argument("--events-dir", required=True, help="streaming parquet dir")
    pr.add_argument("--rules-dir", required=True, help="watched rule-JSON dir")
    pr.add_argument("--work-dir", required=True)
    pr.add_argument(
        "--once", action="store_true", help="availableNow trigger (drain + exit)"
    )
    pr.add_argument(
        "--alert-cooldown-ms", type=int, default=None,
        help="emit at most one alert per (rule, key) per this window "
        "(durable across restarts)",
    )
    pr.add_argument(
        "--mv-key", type=_csv, default=None,
        help="comma-separated key columns: maintain an incremental "
        "per-key summary MV at <work-dir>/summary_mv",
    )
    pr.add_argument(
        "--mv-value", default=None, help="value column for the summary MV"
    )
    pr.add_argument(
        "--mv-hist", type=_bins, default=None,
        help="lo,hi,bins — add a mergeable histogram column to the "
        "summary MV (approximate percentiles)",
    )
    pr.add_argument(
        "--anomaly-key", type=_csv, default=None,
        help="comma-separated key columns: flag per-key values whose "
        "bucket total deviates from the key's own trailing baseline "
        "(rolling z-score) at <work-dir>/anomalies",
    )
    pr.add_argument(
        "--anomaly-value", default=None,
        help="value column for the anomaly stage",
    )
    pr.add_argument(
        "--anomaly-threshold", type=float, default=3.0,
        help="|z| above this emits an anomaly row (default 3.0)",
    )
    pr.add_argument(
        "--drift-value", default=None,
        help="value column for the per-batch distribution-drift gate "
        "(PSI vs all prior batches; scores at <work-dir>/drift)",
    )
    pr.add_argument(
        "--drift-bins", type=_bins, default=None,
        help="lo,hi,bins fixed histogram edges for the drift gate "
        "(required with --drift-value)",
    )
    pr.add_argument(
        "--drift-threshold", type=float, default=0.25,
        help="PSI above this marks the batch drifted (default 0.25)",
    )
    pr.add_argument(
        "--cusum-value", default=None,
        help="value column for the CUSUM mean-shift gate "
        "(per-batch mean through the Page recurrence; scores at "
        "<work-dir>/cusum)",
    )
    pr.add_argument(
        "--cusum-target", type=float, default=None,
        help="in-control mean (required with --cusum-value)",
    )
    pr.add_argument(
        "--cusum-slack", type=float, default=0.0,
        help="half-deadband subtracted from each deviation (default 0)",
    )
    pr.add_argument(
        "--cusum-threshold", type=float, default=5.0,
        help="either CUSUM side above this raises the alarm (default 5)",
    )
    pr.add_argument(
        "--mad-value", default=None,
        help="value column for the MAD outlier-burst gate (per-batch "
        "fraction of rows beyond z*scale of the robust center; scores "
        "at <work-dir>/madgate)",
    )
    pr.add_argument(
        "--mad-center", type=float, default=None,
        help="robust center (training-window median; required with "
        "--mad-value)",
    )
    pr.add_argument(
        "--mad-scale", type=float, default=None,
        help="robust scale (training-window MAD; required with "
        "--mad-value)",
    )
    pr.add_argument(
        "--mad-z", type=float, default=3.0,
        help="outlier cut in scale units (default 3)",
    )
    pr.add_argument(
        "--mad-max-outlier-frac", type=float, default=0.05,
        help="batch outlier fraction above this raises the alarm "
        "(default 0.05)",
    )

    ps = sub.add_parser(
        "sql", parents=[ts], help="print the rule's generated ANSI-SQL twin"
    )
    ps.set_defaults(spark=False)
    ps.add_argument("--rule", required=True)
    ps.add_argument("--table", default="events")
    ps.add_argument("--numeric-cols", type=_csv, default="", help="comma-separated")
    ps.add_argument("--fired-only", action="store_true")

    pd_ = sub.add_parser(
        "dedup", parents=[out, doc], help="write near-dup clusters for a corpus"
    )
    pd_.add_argument("--input", required=True, help="documents parquet path")
    pd_.add_argument("--mode", choices=["exact", "minhash"], default="minhash")
    pd_.add_argument("--k", type=int, default=12, help="minhash functions")
    pd_.add_argument("--bands", type=int, default=3)
    pd_.add_argument(
        "--cc-algo", choices=["labelprop", "twostar"], default="labelprop",
        help="connected-components algorithm for minhash mode: min-label "
        "propagation (default) or large-star/small-star (balanced "
        "per-round shuffle keys — the web-scale choice)",
    )

    pc = sub.add_parser(
        "decontaminate",
        parents=[out, doc],
        help="flag training docs containing a benchmark doc's n-grams",
    )
    pc.add_argument("--train", required=True, help="training-docs parquet path")
    pc.add_argument("--bench", required=True, help="benchmark-docs parquet path")
    pc.add_argument("--n", type=int, default=5, help="n-gram size")
    pc.add_argument("--threshold", type=float, default=0.5,
                    help="min fraction of bench n-grams contained")
    pc.add_argument("--max-doc-freq", type=int, default=None,
                    help="drop shingles in more than this many train docs")

    phn = sub.add_parser(
        "mine-hard-negatives",
        parents=[out, vec],
        help="per-query ANN hard negatives minus labeled positives "
        "(optional positive-floor false-negative guard)",
    )
    phn.add_argument("--corpus", required=True,
                     help="corpus parquet (id + embedding)")
    phn.add_argument("--queries", required=True,
                     help="queries parquet (qid + qvec)")
    phn.add_argument("--positives", required=True,
                     help="labeled positives parquet (qid + id)")
    phn.add_argument("--k", type=int, default=5)
    phn.add_argument("--n-centroids", type=int, default=16)
    phn.add_argument("--probes", type=int, default=2)
    phn.add_argument("--qid-col", default="qid")
    phn.add_argument("--qvec-col", default="qvec")
    phn.add_argument("--guard-positive-floor", action="store_true")
    phn.add_argument("--overfetch", type=int, default=None)

    pm = sub.add_parser(
        "sample",
        parents=[out],
        help="write deterministic train/val/test split assignments",
    )
    pm.add_argument("--input", required=True, help="parquet path")
    pm.add_argument("--key", type=_csv, required=True,
                    help="comma-separated key columns")
    pm.add_argument("--weights", type=_weights, default="train=0.8,val=0.1,test=0.1")
    pm.add_argument("--salt", default="s1")

    pq = sub.add_parser(
        "score",
        parents=[out, doc],
        help="per-document quality signals: heuristics + unigram-LM "
        "cross-entropy + keep/drop reason",
    )
    pq.add_argument("--input", required=True, help="documents parquet path")
    pq.add_argument("--alpha", type=float, default=0.5,
                    help="LM add-alpha smoothing")

    pib = sub.add_parser(
        "index-build",
        parents=[vec],
        help="build a persisted IVF ANN index (vectors partitioned by cell)",
    )
    pib.add_argument("--input", required=True, help="embeddings parquet path")
    pib.add_argument("--index", required=True, help="index output directory")
    pib.add_argument("--k", type=int, default=16, help="number of cells")
    pib.add_argument("--iters", type=int, default=4, help="k-means iterations")
    trainer = pib.add_mutually_exclusive_group()
    trainer.add_argument(
        "--seed-only", action="store_true",
        help="deterministic lowest-id seed centroids (skip k-means)",
    )
    trainer.add_argument(
        "--lattice", action="store_true",
        help="train with the bit-reproducible integer-lattice k-means "
        "(clustering.kmeans_lattice) instead of the float trainer",
    )

    pis = sub.add_parser(
        "index-search",
        parents=[out],
        help="batch top-k ANN search against a persisted IVF index",
    )
    pis.add_argument("--index", required=True, help="index directory")
    pis.add_argument("--queries", required=True, help="queries parquet path")
    pis.add_argument("--k", type=int, default=5)
    pis.add_argument("--probes", type=int, default=2)
    pis.add_argument("--id-col", default="vec_id")
    pis.add_argument("--qid-col", default="vec_id",
                     help="query id column in --queries")
    pis.add_argument("--qvec-col", default="embedding",
                     help="query vector column in --queries")

    ppb = sub.add_parser(
        "pq-index-build",
        parents=[vec],
        help="build a persisted fused IVF+PQ ANN index "
        "(cell partitions x residual PQ codes)",
    )
    ppb.add_argument("--input", required=True, help="embeddings parquet path")
    ppb.add_argument("--index", required=True, help="index output directory")
    ppb.add_argument("--k", type=int, default=16, help="number of cells")
    ppb.add_argument("--iters", type=int, default=4, help="k-means iterations")
    ppb.add_argument("--m", type=int, default=8, help="PQ sub-quantizers")
    ppb.add_argument("--ksub", type=int, default=16, help="codes per sub-quantizer")
    ppb.add_argument(
        "--seed-only", action="store_true",
        help="deterministic lowest-id seed centroids (skip k-means)",
    )

    pps = sub.add_parser(
        "pq-index-search",
        parents=[out],
        help="batch top-k ANN search against a fused IVF+PQ index "
        "(prune -> codes-only ADC shortlist -> exact re-rank)",
    )
    pps.add_argument("--index", required=True, help="index directory")
    pps.add_argument("--queries", required=True, help="queries parquet path")
    pps.add_argument("--k", type=int, default=5)
    pps.add_argument("--probes", type=int, default=2)
    pps.add_argument("--shortlist", type=int, default=None,
                     help="ADC shortlist size (default 4*k)")
    pps.add_argument("--id-col", default="vec_id")
    pps.add_argument("--qid-col", default="vec_id",
                     help="query id column in --queries")
    pps.add_argument("--qvec-col", default="embedding",
                     help="query vector column in --queries")
    pps.add_argument("--include-self", action="store_true",
                     help="keep corpus rows whose id equals the query "
                     "id (use when --qid-col is a DIFFERENT id space "
                     "than the corpus; default drops them, the "
                     "query-corpus-against-itself shape)")

    ppa = sub.add_parser(
        "pq-index-append",
        parents=[vec],
        help="append a batch to a fused IVF+PQ index (existing "
        "centroids + codebooks; no retraining)",
    )
    ppa.add_argument("--input", required=True, help="embeddings parquet path")
    ppa.add_argument("--index", required=True, help="index directory")

    pdb = sub.add_parser(
        "dedup-index-build",
        parents=[doc],
        help="persist a MinHash-LSH dedup index (bucket-partitioned "
        "band signatures + hot-shingle list)",
    )
    pdb.add_argument("--input", required=True, help="documents parquet path")
    pdb.add_argument("--index", required=True, help="index output directory")
    pdb.add_argument("--n", type=int, default=5, help="shingle n-gram size")
    pdb.add_argument("--k", type=int, default=12, help="minhash functions")
    pdb.add_argument("--bands", type=int, default=3)
    pdb.add_argument("--max-doc-freq", type=int, default=None,
                     help="persisted hot-shingle cap")

    pdl = sub.add_parser(
        "dedup-index-lookup",
        parents=[out, doc],
        help="match a new batch against a persisted dedup index "
        "(writes (id_new, id_indexed) pairs; --append adds survivors)",
    )
    pdl.add_argument("--index", required=True, help="index directory")
    pdl.add_argument("--batch", required=True, help="new-batch parquet path")
    pdl.add_argument(
        "--append", action="store_true",
        help="after the lookup, append the batch's UNMATCHED docs to "
        "the index (the standard ingest flow)",
    )

    prs = sub.add_parser(
        "resample",
        parents=[out, ts],
        help="regularize an irregular per-key series onto a fixed grid "
        "with forward fill",
    )
    prs.add_argument("--input", required=True, help="events parquet path")
    prs.add_argument("--key", default="user_id")
    prs.add_argument("--value-col", default="value")
    prs.add_argument("--step-ms", type=int, default=86_400_000)
    prs.add_argument("--tie-col", default=None,
                     help="tie-break column for same-timestamp rows")

    pt = sub.add_parser(
        "table",
        help="versioned-table operations (Delta-style time travel on parquet)",
    )
    pt.add_argument("--path", required=True, help="versioned table directory")
    act = pt.add_subparsers(dest="action", required=True)
    pcm = act.add_parser("commit", help="commit a parquet as the next version")
    pcm.add_argument("--input", required=True, help="parquet to commit")
    pcm.add_argument("--mode", choices=["append", "overwrite"], default="append")
    prd = act.add_parser("read", parents=[out], help="write one version to --output")
    prd.add_argument("--version", type=int, default=None,
                     help="version to read (default: the latest)")
    act.add_parser("history", help="print the commit log as JSON lines")
    prb = act.add_parser(
        "rollback", help="re-point the table at an old version as a new commit"
    )
    prb.add_argument("--version", type=int, required=True,
                     help="rollback target version")
    pvc = act.add_parser(
        "vacuum", help="drop old versions and the data dirs only they reference"
    )
    pvc.add_argument("--retain-last", type=int, default=1,
                     help="versions kept by vacuum")
    pop = act.add_parser(
        "optimize", help="compact the current version as a new commit"
    )
    pop.add_argument("--n-files", type=int, default=8,
                     help="target file count for optimize")

    pck = sub.add_parser(
        "check",
        help="run declarative data-quality constraints from a JSON file",
    )
    pck.add_argument("--input", required=True, help="parquet path to check")
    pck.add_argument("--constraints", required=True,
                     help="JSON file: list of constraint objects "
                     "(name, kind, column/keys/values/lo/hi/pattern/expr)")
    pck.add_argument("--quarantine", default=None,
                     help="optional parquet path: write rows violating "
                     "row-level constraints (with per-row blame)")
    pck.add_argument(
        "--strict", action="store_true",
        help="exit 1 if any constraint fails",
    )

    pin = sub.add_parser(
        "ingest",
        parents=[doc],
        help="dedup-at-the-door ingestion: drain a parquet directory "
        "into a clean store through a persisted dedup index",
    )
    pin.add_argument("--events-dir", required=True,
                     help="parquet directory of incoming documents")
    pin.add_argument("--index", required=True,
                     help="dedup index (from dedup-index-build)")
    pin.add_argument("--store", required=True, help="clean-store directory")
    pin.add_argument("--max-files-per-trigger", type=int, default=None)

    pcomp = sub.add_parser(
        "index-compact",
        help="compact a persisted index's partition files "
        "(dedup LSH or IVF ANN; appends accumulate small files)",
    )
    pcomp.add_argument("--index", required=True, help="index directory")
    pcomp.add_argument(
        "--kind", choices=["dedup", "ivf"], required=True,
        help="dedup = bands/bucket= layout; ivf = vectors/cell= layout",
    )
    pcomp.add_argument("--files-per-partition", type=int, default=1)

    pdiff = sub.add_parser(
        "snapshot-diff",
        parents=[out],
        help="classify keys across two table snapshots as "
        "added/removed/changed/unchanged",
    )
    pdiff.add_argument("--old", required=True, help="old snapshot parquet")
    pdiff.add_argument("--new", required=True, help="new snapshot parquet")
    pdiff.add_argument("--keys", type=_csv, required=True,
                       help="comma-separated key columns")
    pdiff.add_argument("--compare-cols", type=_csv, default=None,
                       help="comma-separated value columns "
                       "(default: all shared non-key columns)")

    ppr = sub.add_parser(
        "pagerank",
        parents=[out],
        help="weighted PageRank over an edge table (fixed iterations)",
    )
    ppr.add_argument("--edges", required=True,
                     help="edge parquet with src/dst[/weight] columns")
    ppr.add_argument("--src-col", default="src")
    ppr.add_argument("--dst-col", default="dst")
    ppr.add_argument("--weight-col", default=None)
    ppr.add_argument("--iters", type=int, default=3)
    ppr.add_argument("--damping", type=float, default=0.85)

    pqc = sub.add_parser(
        "quota-cap",
        parents=[inp, out],
        help="keep at most N rows per group by deterministic hash order",
    )
    pqc.add_argument("--group-cols", type=_csv, required=True,
                     help="comma-separated group columns")
    pqc.add_argument("--key-cols", type=_csv, required=True,
                     help="comma-separated key columns (the hash seed)")
    pqc.add_argument("--max-per-group", type=int, required=True)
    pqc.add_argument("--salt", default="q1")

    pbm = sub.add_parser(
        "bm25",
        parents=[out, doc],
        help="BM25 top-k document retrieval for ad-hoc queries",
    )
    pbm.add_argument("--docs", required=True, help="documents parquet")
    pbm.add_argument(
        "--query", action="append", required=True,
        help="query string (repeat for a batch; ids are 1-based order)",
    )
    pbm.add_argument("--k", type=int, default=10)

    pew = sub.add_parser(
        "ewma",
        parents=[inp, out, ts],
        help="per-key exponentially weighted moving average",
    )
    pew.add_argument("--key-col", required=True)
    pew.add_argument("--value-col", required=True)
    pew.add_argument("--alpha", type=float, default=0.25)
    pew.add_argument("--tie-col", default=None,
                     help="deterministic same-timestamp tiebreak column")

    phb = sub.add_parser(
        "hll-mv-build",
        parents=[ts],
        help="build a mergeable per-bucket HLL distinct-count MV",
    )
    phb.add_argument("--events", required=True)
    phb.add_argument("--mv", required=True, help="MV output directory")
    phb.add_argument("--key-col", required=True)
    phb.add_argument("--bucket-ms", type=int, default=86_400_000)
    phb.add_argument("--group-cols", type=_csv, default=None,
                     help="comma-separated extra grouping columns")
    phb.add_argument("--lgk", type=int, default=12)

    phd = sub.add_parser(
        "hll-mv-distinct",
        help="range distinct-count estimate from an hll-mv-build MV",
    )
    phd.add_argument("--mv", required=True)
    phd.add_argument("--start-ms", type=int, default=None)
    phd.add_argument("--end-ms", type=int, default=None)
    phd.add_argument("--group-cols", type=_csv, default=None)

    pjv = sub.add_parser(
        "jmv-verify",
        help="anti-entropy audit: recompute a join MV from its side "
        "snapshots and multiset-diff against the stored MV",
    )
    pjv.add_argument("--base", required=True, help="incremental_join_mv dir")
    pjv.add_argument("--on", type=_csv, required=True,
                     help="comma-separated join keys")
    pjv.add_argument("--sample-fraction", type=float, default=None)
    pjv.add_argument("--salt", default="v1")

    ppca = sub.add_parser(
        "pca-project",
        parents=[inp, out],
        help="fit a PCA over a vector column and append the projection",
    )
    ppca.add_argument("--d", type=int, default=8)
    ppca.add_argument("--vec-col", default="embedding")
    ppca.add_argument("--out-col", default="pca")
    ppca.add_argument("--whiten", action="store_true")

    pdr = sub.add_parser(
        "drift",
        parents=[inp, out],
        help="PSI/KL distribution drift between two slices of a table",
    )
    pdr.add_argument("--value-col", required=True)
    pdr.add_argument("--ref-where", required=True,
                     help="SQL predicate selecting the reference slice")
    pdr.add_argument("--cur-where", required=True,
                     help="SQL predicate selecting the current slice")
    pdr.add_argument("--group-cols", type=_csv, default=None,
                     help="comma-separated slice columns (optional)")
    pdr.add_argument("--bins", type=int, default=10)

    ptr = sub.add_parser(
        "triangles",
        parents=[out],
        help="per-node triangle counts of an undirected edge table",
    )
    ptr.add_argument("--edges", required=True)
    ptr.add_argument("--src-col", default="src")
    ptr.add_argument("--dst-col", default="dst")

    ptm = sub.add_parser(
        "temperature-mix",
        parents=[inp, out],
        help="re-balance sources with n^tau temperature sampling",
    )
    ptm.add_argument("--source-col", required=True)
    ptm.add_argument("--key-cols", type=_csv, required=True,
                     help="comma-separated identity columns for the hash coin")
    ptm.add_argument("--tau", type=float, default=0.7)
    ptm.add_argument("--target-rows", type=int, default=None)
    ptm.add_argument("--salt", default="tm1")

    pbx = sub.add_parser(
        "text-index-build",
        parents=[doc],
        help="build the persisted BM25 inverted index",
    )
    pbx.add_argument("--docs", required=True, help="documents parquet")
    pbx.add_argument("--index", required=True, help="index directory")
    pbx.add_argument("--n-buckets", type=int, default=64)

    pbq = sub.add_parser(
        "text-index-search",
        parents=[out],
        help="BM25 top-k via the persisted index (bucket-pruned read)",
    )
    pbq.add_argument("--index", required=True)
    pbq.add_argument(
        "--query", action="append", required=True,
        help="query string (repeat for a batch; ids are 1-based order)",
    )
    pbq.add_argument("--k", type=int, default=10)

    pcs = sub.add_parser(
        "cusum",
        parents=[inp, out, ts],
        help="per-key CUSUM change-point statistics",
    )
    pcs.add_argument("--key-col", required=True)
    pcs.add_argument("--value-col", required=True)
    pcs.add_argument("--target", type=float, required=True)
    pcs.add_argument("--slack", type=float, default=0.0)
    pcs.add_argument("--tie-col", default=None)

    pbd = sub.add_parser(
        "balanced-sample",
        parents=[inp, out],
        help="downsample every class to the smallest class's size",
    )
    pbd.add_argument("--class-cols", type=_csv, required=True,
                     help="comma-separated")
    pbd.add_argument("--key-cols", type=_csv, required=True,
                     help="comma-separated")
    pbd.add_argument("--salt", default="b1")

    pfp = sub.add_parser(
        "frequent-pairs",
        parents=[inp, out],
        help="co-occurring item pairs by support",
    )
    pfp.add_argument("--basket-col", required=True)
    pfp.add_argument("--item-col", required=True)
    pfp.add_argument("--min-support", type=int, default=1)
    pfp.add_argument("--max-basket-items", type=int, default=None)

    pcf = sub.add_parser(
        "compact-small",
        help="rewrite only sub-target files; hard-link the rest",
    )
    pcf.add_argument("--path", required=True)
    pcf.add_argument("--target-bytes", type=int, default=128 << 20)

    pkm = sub.add_parser(
        "kmeans",
        parents=[inp, out, vec],
        help="bit-reproducible integer-lattice k-means assignments",
    )
    pkm.add_argument("--k", type=int, default=16)
    pkm.add_argument("--iters", type=int, default=4)
    pkm.add_argument("--scale", type=int, default=10_000)

    pfm = sub.add_parser(
        "fuzzy-match",
        parents=[inp, out],
        help="levenshtein pairs inside a block key (+ optional keeper dedup)",
    )
    pfm.add_argument("--block-col", required=True)
    pfm.add_argument("--id-col", required=True)
    pfm.add_argument("--text-col", required=True)
    pfm.add_argument("--max-dist", type=int, default=4)
    pfm.add_argument("--max-block-rows", type=int, default=None)
    pfm.add_argument(
        "--keep-survivors",
        action="store_true",
        help="write the deduped rows (lowest id per match group) "
        "instead of the pair list",
    )

    pmo = sub.add_parser(
        "outliers",
        parents=[inp, out],
        help="per-group median/MAD robust outlier stats",
    )
    pmo.add_argument("--group-cols", type=_csv, required=True,
                     help="comma-separated")
    pmo.add_argument("--value-col", required=True)
    pmo.add_argument("--z", type=float, default=3.0)

    pot = sub.add_parser(
        "ols-trend",
        parents=[inp, out],
        help="per-group closed-form OLS trend (exact sum components)",
    )
    pot.add_argument("--group-cols", type=_csv, required=True,
                     help="comma-separated")
    pot.add_argument("--x-col", required=True)
    pot.add_argument("--y-col", required=True)
    pot.add_argument("--no-rebase-x", action="store_true")

    pqb = sub.add_parser(
        "quantile-mv-build",
        parents=[ts],
        help="per-bucket exact quantile-ladder MV over a value column",
    )
    pqb.add_argument("--events", required=True)
    pqb.add_argument("--mv", required=True)
    pqb.add_argument("--value-col", required=True)
    pqb.add_argument("--bucket-ms", type=int, default=86_400_000)
    pqb.add_argument("--bins", type=int, default=64)

    pqq = sub.add_parser(
        "quantile-mv-query",
        help="range quantile from the ladder MV (+ deterministic rank bound)",
    )
    pqq.add_argument("--mv", required=True)
    pqq.add_argument("--q", type=float, required=True)
    pqq.add_argument("--start-ms", type=int, default=None)
    pqq.add_argument("--end-ms", type=int, default=None)

    ppk = sub.add_parser(
        "purge",
        help="targeted key deletion: rewrite only files holding the keys",
    )
    ppk.add_argument("--path", required=True)
    ppk.add_argument("--key-col", required=True)
    ppk.add_argument(
        "--keys", type=_keys, required=True,
        help="comma-separated key values (typed as the column: "
        "integers parse as int, the rest stay strings)",
    )
    ppk.add_argument(
        "--refresh-index", action="store_true",
        help="run update_skipping_index after the purge",
    )

    pcl = sub.add_parser(
        "collocations",
        parents=[inp, out, doc],
        help="top-k adjacent-word collocations by PMI",
    )
    pcl.add_argument("--min-count", type=int, default=5)
    pcl.add_argument("--k", type=int, default=20)

    psp = sub.add_parser(
        "split-safe",
        parents=[inp, out, doc],
        help="leakage-safe train/val/test split: coin tossed per "
        "near-dup cluster (minhash LSH pairs, transitively closed)",
    )
    psp.add_argument("--salt", default="s1")

    ptx = sub.add_parser(
        "transitions",
        parents=[out, ts],
        help="first-order Markov transition matrix over per-key "
        "event sequences",
    )
    ptx.add_argument("--events", required=True)
    ptx.add_argument("--key-col", default="user_id")
    ptx.add_argument("--state-col", default="event_type")
    ptx.add_argument("--tie-col", default="event_id")

    pab = sub.add_parser(
        "ab-test",
        parents=[out],
        help="two-proportion z-test per group over unit rows "
        "(arm + converted columns)",
    )
    pab.add_argument("--units", required=True, help="unit-rows parquet")
    pab.add_argument("--group-cols", type=_csv, required=True,
                     help="comma-separated group columns")
    pab.add_argument("--arm-col", default="arm")
    pab.add_argument("--converted-col", default="converted")

    pcg = sub.add_parser(
        "classify",
        parents=[inp, out],
        help="hash-trick linear classifier gate (fastText-style "
        "inference; md5-derived demo weights)",
    )
    pcg.add_argument("--text-col", default="text")
    pcg.add_argument("--n-buckets", type=int, default=4096)
    pcg.add_argument("--salt", default="clf1")
    pcg.add_argument("--no-bigrams", action="store_true")

    pcu = sub.add_parser(
        "cuped",
        parents=[out],
        help="CUPED components: exact per-arm moment sums + pooled "
        "theta_num/theta_den over unit rows",
    )
    pcu.add_argument("--units", required=True, help="unit-rows parquet")
    pcu.add_argument("--arm-col", default="arm")
    pcu.add_argument("--x-col", default="x_pre")
    pcu.add_argument("--y-col", default="y")

    pkc = sub.add_parser(
        "kcore",
        parents=[out],
        help="k-core membership (node, in-core degree) of an edge table",
    )
    pkc.add_argument("--edges", required=True, help="edge parquet")
    pkc.add_argument("--k", type=int, required=True)
    pkc.add_argument("--src-col", default="src")
    pkc.add_argument("--dst-col", default="dst")
    pkc.add_argument("--max-iter", type=int, default=20)

    ptp = sub.add_parser(
        "train-probe",
        parents=[inp, out],
        help="exact closed-form ridge probe training (2 integer "
        "features + intercept); writes one row of milli-weights + "
        "moment sums, optionally the scored input",
    )
    ptp.add_argument("--x1-col", required=True)
    ptp.add_argument("--x2-col", required=True)
    ptp.add_argument("--y-col", required=True, help="integer label (e.g. +1/-1)")
    ptp.add_argument("--lam", type=int, default=1000)
    ptp.add_argument(
        "--scored-output", default=None,
        help="also write input + score_milli + keep (the deployed gate)",
    )

    pss = sub.add_parser(
        "substr-spans",
        parents=[inp, out, doc],
        help="alignment-free exact-substring duplicate spans "
        "(Lee-et-al ExactSubstr shape): maximal word spans whose "
        "n-grams repeat in the corpus",
    )
    pss.add_argument("--ngram-words", type=int, default=50)
    pss.add_argument("--min-count", type=int, default=2)
    pss.add_argument(
        "--hash-grams", action="store_true",
        help="shuffle/join on xxhash64(gram) instead of gram text "
        "(the 100 TB setting)",
    )
    pss.add_argument(
        "--cut-output", default=None,
        help="also write the REWRITTEN corpus (id, n_words, "
        "words_removed, clean_text) with every duplicated span cut",
    )

    pir = sub.add_parser(
        "ivf-rebuild",
        help="drift-triggered IVF index rebuild: retrain centroids + "
        "reassign + atomic swap once appends exceed the growth "
        "threshold (prints the decision as JSON)",
    )
    pir.add_argument("--index", required=True, help="ivf_index_build path")
    pir.add_argument("--min-appended-fraction", type=float, default=0.25)
    pir.add_argument("--iters", type=int, default=4)
    pir.add_argument("--id-col", default="vec_id")
    pir.add_argument("--force", action="store_true")
    pir.add_argument(
        "--pq", action="store_true",
        help="the index is a fused ivf_pq_index_build layout: retrain "
        "cells AND codebooks from the stored raw vectors",
    )
    return p


def _run_stages(args, error) -> list:
    """The optional pipeline stages the ``run`` flags ask for. A
    stage's required flags are all-or-none, a rule argparse cannot
    state: a subset goes to ``error`` (the ``run`` parser's, which
    exits 2 with the usage line like every other flag error)."""

    def _all_or_none(flags: dict) -> bool:
        given = [f for f, v in flags.items() if v is not None]
        if given and len(given) < len(flags):
            missing = [f for f in flags if f not in given]
            error(f"{', '.join(given)} needs {', '.join(missing)}")
        return bool(given)

    stages = []
    if _all_or_none({"--mv-key": args.mv_key, "--mv-value": args.mv_value}):
        stages.append(SummaryMV(args.mv_key, args.mv_value, args.mv_hist))
    if _all_or_none({"--anomaly-key": args.anomaly_key, "--anomaly-value": args.anomaly_value}):
        stages.append(
            AnomalyStage(args.anomaly_key, args.anomaly_value, threshold=args.anomaly_threshold)
        )
    if _all_or_none({"--drift-value": args.drift_value, "--drift-bins": args.drift_bins}):
        stages.append(
            DriftGate(args.drift_value, args.drift_bins, threshold=args.drift_threshold)
        )
    if _all_or_none({"--cusum-value": args.cusum_value, "--cusum-target": args.cusum_target}):
        stages.append(
            CusumGate(
                args.cusum_value,
                args.cusum_target,
                slack=args.cusum_slack,
                threshold=args.cusum_threshold,
            )
        )
    mad = {
        "--mad-value": args.mad_value,
        "--mad-center": args.mad_center,
        "--mad-scale": args.mad_scale,
    }
    if _all_or_none(mad):
        stages.append(
            MadGate(
                args.mad_value,
                args.mad_center,
                args.mad_scale,
                z=args.mad_z,
                max_outlier_frac=args.mad_max_outlier_frac,
            )
        )
    return stages


def _write(out: DataFrame, path: str, what: str | None = None) -> DataFrame:
    """Overwrite ``path`` with ``out`` and return what was written, read
    back: a count or summary of ``out`` itself would execute its whole
    plan a second time. The read takes ``out``'s schema, which spares
    the schema-inference job. With ``what``, report
    ``<rows> <what> -> <path>`` on stderr."""
    out.write.mode("overwrite").parquet(path)
    written = out.sparkSession.read.schema(out.schema).parquet(path)
    if what is not None:
        print(f"{written.count()} {what} -> {path}", file=sys.stderr)
    return written


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    # the one flag check argparse cannot state; it exits before Spark
    stages = _run_stages(args, args.run_error) if args.cmd == "run" else None
    if args.spark:
        spark = session.get_spark(app_name=f"adw-{args.cmd}")
        spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "sql":
        with open(args.rule) as f:
            rule = Rule.from_json(f.read())
        print(
            rule_to_sql(
                rule,
                table=args.table,
                ts_col=args.ts_col,
                numeric_cols=set(args.numeric_cols),
                fired_only=args.fired_only,
            )
        )

    elif args.cmd == "eval":
        with open(args.rule) as f:
            rule = Rule.from_json(f.read())
        events = load_parquet(spark, args.events)
        # show and count both read the one checkpointed execution
        out = evaluate_rule(
            events, rule, ts_col=args.ts_col, fired_only=args.fired_only
        ).localCheckpoint()
        out.show(args.limit, truncate=False)
        print(f"{out.count()} rows", file=sys.stderr)

    elif args.cmd == "dedup":
        docs = load_parquet(spark, args.input)
        if args.mode == "exact":
            # same (id, component) cluster schema as minhash mode: the
            # duplicate group's keeper id is the component label, one
            # row per member of a multi-copy group
            groups = dedup.exact_dedup(
                docs.withColumn("_fp", text.fingerprint(docs[args.text_col])),
                args.id_col,
                "_fp",
            )
            fp = docs.select(
                F.col(args.id_col),
                text.fingerprint(docs[args.text_col]).alias("dup_key"),
            )
            # plain equi-join on the fingerprint (AQE broadcasts when
            # the duplicate-group side is small; at corpus scale it may
            # not be, so no forced broadcast)
            out = fp.join(groups.select("dup_key", "keeper_id"), "dup_key").select(
                F.col(args.id_col),
                F.col("keeper_id").alias("component"),
            )
        else:
            pairs = dedup.lsh_candidates(
                docs, args.id_col, args.text_col, k=args.k, bands=args.bands
            )
            cc = (
                dedup.connected_components_twostar
                if args.cc_algo == "twostar"
                else dedup.connected_components
            )
            out = cc(pairs).select(
                F.col("id").alias(args.id_col),
                F.col("comp").alias("component"),
            )
        _write(out, args.output, "rows")

    elif args.cmd == "decontaminate":
        out = dedup.contamination_pairs(
            load_parquet(spark, args.train),
            load_parquet(spark, args.bench),
            args.id_col,
            args.text_col,
            n=args.n,
            threshold=args.threshold,
            max_doc_freq=args.max_doc_freq,
        )
        _write(out, args.output, "contaminated pairs")

    elif args.cmd == "mine-hard-negatives":
        out = similarity.mine_hard_negatives(
            load_parquet(spark, args.corpus),
            load_parquet(spark, args.queries),
            load_parquet(spark, args.positives),
            k=args.k,
            n_centroids=args.n_centroids,
            probes=args.probes,
            id_col=args.id_col,
            vec_col=args.vec_col,
            qid_col=args.qid_col,
            qvec_col=args.qvec_col,
            guard_positive_floor=args.guard_positive_floor,
            overfetch=args.overfetch,
        )
        _write(out, args.output, "negatives")

    elif args.cmd == "sample":
        df = load_parquet(spark, args.input)
        out = df.withColumn(
            "split",
            sampling.assign_split(args.key, args.weights, salt=args.salt),
        )
        written = _write(out, args.output)
        counts = {r.split: r["count"] for r in written.groupBy("split").count().collect()}
        print(json.dumps(counts), file=sys.stderr)

    elif args.cmd == "score":
        docs = load_parquet(spark, args.input)
        t = F.col(args.text_col)
        lm = text.unigram_logprobs(
            text.unigram_counts(docs, args.text_col), alpha=args.alpha
        )
        ce = text.doc_cross_entropy(
            docs, lm, id_col=args.id_col, text_col=args.text_col
        )
        out = (
            docs.select(
                F.col(args.id_col),
                text.token_count(t).alias("n_tokens"),
                F.round(text.quality_score(t, F.length(t)), 6).alias(
                    "quality"
                ),
                text.lang_id(t).alias("lang_guess"),
                text.filter_reason(t, F.length(t)).alias("drop_reason"),
            )
            .join(
                ce.select(
                    F.col(args.id_col),
                    F.round("ce_nats", 6).alias("lm_ce_nats"),
                ),
                args.id_col,
                "left",
            )
        )
        written = _write(out, args.output)
        n_drop = written.filter(F.col("drop_reason").isNotNull()).count()
        print(
            f"{written.count()} docs scored ({n_drop} flagged) -> {args.output}",
            file=sys.stderr,
        )

    elif args.cmd == "index-build":
        vecs = load_parquet(spark, args.input)
        trained = None
        if args.lattice:
            _, lat = clustering.kmeans_lattice(
                vecs,
                k=args.k,
                iters=args.iters,
                id_col=args.id_col,
                vec_col=args.vec_col,
            )
            trained = [
                (cid, [c / 10_000 for c in cv]) for cid, cv in lat
            ]
        cents = similarity.ivf_index_build(
            vecs,
            args.index,
            k=args.k,
            iters=args.iters,
            id_col=args.id_col,
            vec_col=args.vec_col,
            use_kmeans=not args.seed_only,
            centroids=trained,
        )
        print(f"{len(cents)} cells -> {args.index}", file=sys.stderr)

    elif args.cmd == "index-search":
        queries = load_parquet(spark, args.queries).select(
            F.col(args.qid_col).alias("qid"),
            F.col(args.qvec_col).alias("qvec"),
        )
        out = similarity.ivf_index_search(
            spark,
            args.index,
            queries,
            k=args.k,
            probes=args.probes,
            id_col=args.id_col,
        )
        _write(out, args.output, "result rows")

    elif args.cmd == "pq-index-build":
        similarity.ivf_pq_index_build(
            load_parquet(spark, args.input),
            args.index,
            k=args.k,
            iters=args.iters,
            m=args.m,
            ksub=args.ksub,
            id_col=args.id_col,
            vec_col=args.vec_col,
            use_kmeans=not args.seed_only,
        )
        print(f"{args.k} cells x {args.m} codes -> {args.index}", file=sys.stderr)

    elif args.cmd == "pq-index-search":
        queries = load_parquet(spark, args.queries).select(
            F.col(args.qid_col).alias("qid"),
            F.col(args.qvec_col).alias("qvec"),
        )
        out = similarity.ivf_pq_search(
            spark,
            args.index,
            queries,
            k=args.k,
            probes=args.probes,
            shortlist=args.shortlist,
            id_col=args.id_col,
            exclude_self=not args.include_self,
        )
        _write(out, args.output, "result rows")

    elif args.cmd == "pq-index-append":
        similarity.ivf_pq_index_append(
            spark,
            args.index,
            load_parquet(spark, args.input),
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
        print(f"appended -> {args.index}", file=sys.stderr)

    elif args.cmd == "dedup-index-build":
        dedup_index.dedup_index_build(
            load_parquet(spark, args.input),
            args.index,
            id_col=args.id_col,
            text_col=args.text_col,
            n=args.n,
            k=args.k,
            bands=args.bands,
            max_doc_freq=args.max_doc_freq,
        )
        n_rows = spark.read.parquet(f"{args.index}/bands").count()
        print(f"{n_rows} band rows -> {args.index}", file=sys.stderr)

    elif args.cmd == "dedup-index-lookup":
        batch = load_parquet(spark, args.batch)
        out = dedup_index.dedup_index_lookup(
            spark, args.index, batch, id_col=args.id_col, text_col=args.text_col
        )
        # the count and the survivors' anti-join read the written pairs,
        # so the band join runs once and before the append changes the index
        pairs = _write(out, args.output)
        n_pairs = pairs.count()
        if args.append:
            matched = pairs.select(
                F.col("id_new").alias(args.id_col)
            ).distinct()
            survivors = batch.join(matched, args.id_col, "left_anti")
            dedup_index.dedup_index_append(
                spark, args.index, survivors,
                id_col=args.id_col, text_col=args.text_col,
            )
            print(
                f"{n_pairs} match pairs -> {args.output}; "
                f"unmatched batch docs appended to {args.index}",
                file=sys.stderr,
            )
        else:
            print(f"{n_pairs} match pairs -> {args.output}", file=sys.stderr)

    elif args.cmd == "check":
        with open(args.constraints) as f:
            raw = json.load(f)
        cons = [
            quality.Constraint(
                name=c["name"],
                kind=c["kind"],
                column=c.get("column"),
                values=tuple(c.get("values", ())),
                lo=c.get("lo"),
                hi=c.get("hi"),
                pattern=c.get("pattern"),
                expr=c.get("expr"),
                keys=tuple(c.get("keys", ())),
            )
            for c in raw
        ]
        df = load_parquet(spark, args.input)
        report = quality.check_constraints(df, cons).collect()
        for r in report:
            print(json.dumps(
                {"constraint": r["constraint"], "kind": r["kind"],
                 "violations": r["violations"], "passed": r["passed"]}
            ))
        if args.quarantine:
            _, bad = quality.enforce(df, cons)
            _write(bad, args.quarantine, "violating rows")
        if args.strict and any(not r["passed"] for r in report):
            return 1

    elif args.cmd == "ingest":
        ing = DedupIngest(
            spark, args.index, args.store,
            id_col=args.id_col, text_col=args.text_col,
        )
        schema = spark.read.parquet(args.events_dir).schema
        reader = spark.readStream.schema(schema)
        if args.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", str(args.max_files_per_trigger)
            )
        q = ing.run_stream(reader.parquet(args.events_dir), available_now=True)
        q.awaitTermination()
        print(json.dumps(ing.metrics), file=sys.stderr)

    elif args.cmd == "index-compact":
        if args.kind == "dedup":
            dedup_index.dedup_index_compact(
                spark, args.index, files_per_bucket=args.files_per_partition
            )
        else:
            similarity.ivf_index_compact(
                spark, args.index, files_per_cell=args.files_per_partition
            )
        print(f"compacted {args.index}", file=sys.stderr)

    elif args.cmd == "table":
        vt = versioned.VersionedTable(spark, args.path)
        if args.action == "commit":
            v = vt.commit(load_parquet(spark, args.input), mode=args.mode)
            print(f"committed version {v}", file=sys.stderr)
        elif args.action == "read":
            _write(vt.read(version=args.version), args.output, "rows")
        elif args.action == "history":
            for h in vt.history():
                print(json.dumps(h))
        elif args.action == "rollback":
            v = vt.rollback(args.version)
            print(f"rolled back to {args.version} as version {v}",
                  file=sys.stderr)
        elif args.action == "vacuum":
            removed = vt.vacuum(retain_last=args.retain_last)
            print(f"removed {len(removed)} commit dirs", file=sys.stderr)
        elif args.action == "optimize":
            v = versioned.optimize(vt, n_files=args.n_files)
            print(f"compacted as version {v}", file=sys.stderr)

    elif args.cmd == "resample":
        out = timeseries.resample_ffill(
            load_parquet(spark, args.input),
            key_col=args.key,
            ts_col=args.ts_col,
            value_col=args.value_col,
            step_ms=args.step_ms,
            tie_col=args.tie_col,
        )
        _write(out, args.output, "grid rows")

    elif args.cmd == "snapshot-diff":
        out = warehouse.snapshot_diff(
            load_parquet(spark, args.old),
            load_parquet(spark, args.new),
            key_cols=args.keys,
            compare_cols=args.compare_cols or None,
        )
        summary = {
            r["op"]: r["n"]
            for r in _write(out, args.output)
            .groupBy("op")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(json.dumps(summary), file=sys.stderr)

    elif args.cmd == "pagerank":
        out = graph.pagerank(
            load_parquet(spark, args.edges),
            damping=args.damping,
            iters=args.iters,
            src=args.src_col,
            dst=args.dst_col,
            weight=args.weight_col,
        )
        _write(out, args.output, "node ranks")

    elif args.cmd == "quota-cap":
        out = sampling.group_quota_cap(
            load_parquet(spark, args.input),
            group_cols=args.group_cols,
            key_cols=args.key_cols,
            max_per_group=args.max_per_group,
            salt=args.salt,
        )
        _write(out, args.output, "rows kept")

    elif args.cmd == "drift":
        out = drift.psi_kl_drift(
            load_parquet(spark, args.input),
            F.expr(args.ref_where),
            F.expr(args.cur_where),
            args.value_col,
            args.group_cols,
            bins=args.bins,
        )
        _write(out, args.output, "drift rows")

    elif args.cmd == "triangles":
        out = graph.triangle_counts(
            load_parquet(spark, args.edges), src=args.src_col, dst=args.dst_col
        )
        _write(out, args.output, "node counts")

    elif args.cmd == "temperature-mix":
        out = sampling.temperature_mix_sample(
            load_parquet(spark, args.input),
            args.source_col,
            args.key_cols,
            tau=args.tau,
            target_rows=args.target_rows,
            salt=args.salt,
        )
        _write(out, args.output, "rows kept")

    elif args.cmd == "bm25":
        out = retrieval.bm25_topk(
            load_parquet(spark, args.docs),
            [(i + 1, q) for i, q in enumerate(args.query)],
            k=args.k,
            id_col=args.id_col,
            text_col=args.text_col,
        )
        _write(out, args.output, "result rows")

    elif args.cmd == "text-index-build":
        text_index.text_index_build(
            load_parquet(spark, args.docs),
            args.index,
            n_buckets=args.n_buckets,
            id_col=args.id_col,
            text_col=args.text_col,
        )
        print(f"index built -> {args.index}", file=sys.stderr)

    elif args.cmd == "text-index-search":
        out = text_index.text_index_search(
            spark,
            args.index,
            [(i + 1, q) for i, q in enumerate(args.query)],
            k=args.k,
        )
        _write(out, args.output, "result rows")

    elif args.cmd == "cusum":
        out = timeseries.cusum(
            load_parquet(spark, args.input),
            args.key_col,
            args.ts_col,
            args.value_col,
            target=args.target,
            slack=args.slack,
            tie_col=args.tie_col,
        )
        _write(out, args.output, "walk rows")

    elif args.cmd == "balanced-sample":
        out = sampling.balanced_downsample(
            load_parquet(spark, args.input),
            args.class_cols,
            args.key_cols,
            salt=args.salt,
        )
        _write(out, args.output, "rows kept")

    elif args.cmd == "frequent-pairs":
        out = basket.frequent_pairs(
            load_parquet(spark, args.input),
            args.basket_col,
            args.item_col,
            min_support=args.min_support,
            max_basket_items=args.max_basket_items,
        )
        _write(out, args.output, "pairs")

    elif args.cmd == "compact-small":
        res = warehouse.compact_small_files(
            spark, args.path, target_bytes=args.target_bytes
        )
        print(
            f"compacted {res['compacted']} files into "
            f"{res['output_files']} ({res['untouched']} untouched)",
            file=sys.stderr,
        )

    elif args.cmd == "kmeans":
        assigned, cents = clustering.kmeans_lattice(
            load_parquet(spark, args.input),
            k=args.k,
            iters=args.iters,
            id_col=args.id_col,
            vec_col=args.vec_col,
            scale=args.scale,
        )
        sizes = {
            r["cluster_id"]: r["n"]
            for r in _write(assigned, args.output).groupBy("cluster_id").count()
            .withColumnRenamed("count", "n").collect()
        }
        print(
            f"{args.k} clusters, sizes "
            f"{[sizes.get(cid, 0) for cid, _ in cents]} -> {args.output}",
            file=sys.stderr,
        )

    elif args.cmd == "fuzzy-match":
        df = load_parquet(spark, args.input)
        pairs = fuzzy.fuzzy_join_blocked(
            df,
            block_col=args.block_col,
            id_col=args.id_col,
            text_col=args.text_col,
            max_dist=args.max_dist,
            max_block_rows=args.max_block_rows,
        )
        out = (
            fuzzy.fuzzy_dedup_keeper(pairs, df, args.id_col)
            if args.keep_survivors
            else pairs
        )
        _write(out, args.output, "survivors" if args.keep_survivors else "pairs")

    elif args.cmd == "outliers":
        out = robust.mad_outlier_stats(
            load_parquet(spark, args.input),
            args.group_cols,
            args.value_col,
            z=args.z,
        )
        _write(out, args.output, "groups")

    elif args.cmd == "ols-trend":
        out = regression.grouped_ols(
            load_parquet(spark, args.input),
            args.group_cols,
            args.x_col,
            args.y_col,
            rebase_x=not args.no_rebase_x,
        )
        _write(out, args.output, "groups")

    elif args.cmd == "quantile-mv-build":
        quantile_mv.quantile_mv_build(
            load_parquet(spark, args.events),
            args.mv,
            args.value_col,
            bucket_ms=args.bucket_ms,
            ts_col=args.ts_col,
            bins=args.bins,
        )
        n = spark.read.parquet(args.mv).count()
        print(f"{n} ladder rows -> {args.mv}", file=sys.stderr)

    elif args.cmd == "quantile-mv-query":
        res = quantile_mv.quantile_mv_query(
            spark, args.mv, args.q,
            start_ms=args.start_ms, end_ms=args.end_ms,
        )
        print(json.dumps(res))

    elif args.cmd == "purge":
        res = warehouse.purge_keys(spark, args.path, args.key_col, args.keys)
        if args.refresh_index and os.path.exists(skipping._index_path(args.path)):
            skipping.update_skipping_index(spark, args.path)
        print(
            f"deleted {res['deleted']} rows "
            f"({res['rewritten_files']} files rewritten, "
            f"{res['linked_files']} linked)",
            file=sys.stderr,
        )

    elif args.cmd == "collocations":
        out = text.pmi_collocations(
            load_parquet(spark, args.input),
            args.id_col,
            args.text_col,
            min_count=args.min_count,
            k=args.k,
        )
        _write(out, args.output, "collocations")

    elif args.cmd == "split-safe":
        df = load_parquet(spark, args.input)
        pairs = dedup.lsh_candidates(df, args.id_col, args.text_col)
        out = sampling.cluster_safe_split(
            df, args.id_col, pairs, salt=args.salt
        )
        _write(out, args.output, "rows (cluster+split)")

    elif args.cmd == "transitions":
        out = timeseries.transition_counts(
            load_parquet(spark, args.events),
            args.key_col,
            args.ts_col,
            args.state_col,
            args.tie_col,
        )
        _write(out, args.output, "transitions")

    elif args.cmd == "ab-test":
        out = abtest.two_proportion_ztest(
            load_parquet(spark, args.units),
            args.group_cols,
            arm_col=args.arm_col,
            converted_col=args.converted_col,
        )
        _write(out, args.output, "groups")

    elif args.cmd == "classify":
        out = text.hashed_linear_score(
            load_parquet(spark, args.input),
            args.text_col,
            n_buckets=args.n_buckets,
            salt=args.salt,
            bigrams=not args.no_bigrams,
        )
        _write(out, args.output, "scored docs")

    elif args.cmd == "cuped":
        out = abtest.cuped_components(
            load_parquet(spark, args.units),
            arm_col=args.arm_col,
            x_col=args.x_col,
            y_col=args.y_col,
        )
        _write(out, args.output, "arms")

    elif args.cmd == "kcore":
        out = graph.kcore(
            load_parquet(spark, args.edges),
            k=args.k,
            src=args.src_col,
            dst=args.dst_col,
            max_iter=args.max_iter,
        )
        _write(out, args.output, "core nodes")

    elif args.cmd == "train-probe":
        df = load_parquet(spark, args.input)
        row = regression.ridge_probe_sums(df, args.x1_col, args.x2_col, args.y_col).head()
        if row is None or row["n"] == 0:
            raise SystemExit("train-probe: empty training set")
        sums = row.asDict()
        w = regression.ridge_probe_solve(sums, lam=args.lam)
        out = spark.createDataFrame(
            [tuple(int(sums[c]) for c in
                   ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y"))
             + tuple(int(x) for x in w)],
            "n bigint, s1 bigint, s2 bigint, s11 bigint, s12 bigint, "
            "s22 bigint, sy bigint, s1y bigint, s2y bigint, "
            "w0_milli bigint, w1_milli bigint, w2_milli bigint",
        )
        _write(out.coalesce(1), args.output)
        if args.scored_output:
            scored = df.withColumn(
                "score_milli",
                regression.ridge_probe_score(w, args.x1_col, args.x2_col),
            ).withColumn("keep", F.col("score_milli") >= 0)
            _write(scored, args.scored_output)
        print(
            f"w_milli={list(w)} over n={sums['n']} rows -> {args.output}",
            file=sys.stderr,
        )

    elif args.cmd == "substr-spans":
        docs = load_parquet(spark, args.input)
        out = dedup.exact_substring_spans(
            docs,
            args.id_col,
            args.text_col,
            ngram_words=args.ngram_words,
            min_count=args.min_count,
            hash_grams=args.hash_grams,
        )
        _write(out, args.output, "duplicate spans")
        if args.cut_output:
            clean = dedup.cut_duplicate_spans(
                docs,
                args.id_col,
                args.text_col,
                ngram_words=args.ngram_words,
                min_count=args.min_count,
                hash_grams=args.hash_grams,
            )
            _write(clean, args.cut_output)
            print(f"rewritten corpus -> {args.cut_output}", file=sys.stderr)

    elif args.cmd == "ivf-rebuild":
        rebuild = (
            similarity.ivf_pq_index_rebuild if args.pq else similarity.ivf_index_rebuild
        )
        info = rebuild(
            spark,
            args.index,
            min_appended_fraction=args.min_appended_fraction,
            iters=args.iters,
            id_col=args.id_col,
            force=args.force,
        )
        print(json.dumps(info))

    elif args.cmd == "ewma":
        out = timeseries.ewma(
            load_parquet(spark, args.input),
            args.key_col,
            args.ts_col,
            args.value_col,
            alpha=args.alpha,
            tie_col=args.tie_col,
        )
        _write(out, args.output, "rows")

    elif args.cmd == "hll-mv-build":
        sketch_mv.hll_mv_build(
            load_parquet(spark, args.events),
            args.mv,
            args.key_col,
            bucket_ms=args.bucket_ms,
            group_cols=tuple(args.group_cols or ()),
            ts_col=args.ts_col,
            lgk=args.lgk,
        )
        n = spark.read.parquet(args.mv).count()
        print(f"{n} sketch rows -> {args.mv}", file=sys.stderr)

    elif args.cmd == "hll-mv-distinct":
        rows = sketch_mv.hll_mv_distinct(
            spark, args.mv, start_ms=args.start_ms, end_ms=args.end_ms,
            group_cols=tuple(args.group_cols or ()),
        ).collect()
        print(json.dumps([r.asDict() for r in rows]))

    elif args.cmd == "jmv-verify":
        report = warehouse.jmv_verify(
            spark, args.base, args.on,
            sample_fraction=args.sample_fraction, salt=args.salt,
        )
        print(json.dumps(report))
        return 0 if report["consistent"] else 1

    elif args.cmd == "pca-project":
        df = load_parquet(spark, args.input)
        model = pca.fit_pca(df, d=args.d, vec_col=args.vec_col)
        out = pca.pca_project(
            df, model, vec_col=args.vec_col, out_col=args.out_col,
            whiten=args.whiten,
        )
        print(
            json.dumps(
                {
                    "rows": _write(out, args.output).count(),
                    "explained_variance": [
                        round(v, 6) for v in model.explained_variance
                    ],
                }
            ),
            file=sys.stderr,
        )

    elif args.cmd == "run":
        registry = RuleRegistry.load(os.path.join(args.work_dir, "rules.jsonl"))
        pipe = ActivePipeline(
            spark=spark,
            registry=registry,
            ts_col=args.ts_col,
            work_dir=args.work_dir,
            rule_source=DirectoryRuleSource(args.rules_dir),
            alert_cooldown_ms=args.alert_cooldown_ms,
            stages=stages,
        )
        schema = spark.read.parquet(args.events_dir).schema
        stream = spark.readStream.schema(schema).parquet(args.events_dir)
        # note: nanos-ts streams should be pre-normalized (load_parquet
        # + rewrite) — streaming schema inference can't rewrite columns
        q = pipe.run_stream(stream, trigger_available_now=args.once)
        q.awaitTermination()
        print(json.dumps(pipe.metrics), file=sys.stderr)

    return 0


if __name__ == "__main__":
    raise SystemExit(main())
