"""Persisted inverted index for BM25 retrieval: build once, query many
— the on-disk complement of ``retrieval.bm25_topk`` (which re-scans
the corpus per query batch).

Why an index at 100 TB: the on-the-fly path's tokenize+explode is a
full-corpus scan per query batch. Ad-hoc / interactive retrieval wants
that scan paid ONCE: postings are persisted partitioned by a stable
term-hash bucket, so a query reads only the buckets its terms hash to
(Spark prunes the directories via PartitionFilters — the same
persisted-index recipe as ``dedup_index`` band buckets and the IVF
cell partitions).

Layout (same staging + atomic-swap commit as every writer here):

    {path}/postings/bucket=*/   (term, doc_id, tf, dl)
    {path}/meta.json            n_docs, n_dl_docs, total_tokens,
                                n_buckets  (avgdl derived exactly)

- ``text_index_build(docs, path)`` — one tokenize+explode scan;
  doc length rides the explode (never a join back); ONE shuffle to
  (doc, term) tf rows; repartition on bucket before the partitioned
  write so each bucket directory gets O(1) files, not one sliver per
  task.
- ``text_index_search(spark, path, queries, k)`` — reads ONLY the
  query terms' buckets, computes df from the pruned postings
  (≤ |terms| rows), and scores with the IDENTICAL Okapi/Lucene-idf
  formula as ``bm25_topk`` — same tokenizer contract, same rounding,
  same (score DESC, doc_id ASC) ranking, so results match the
  on-the-fly path exactly (tested) and the same DuckDB oracle covers
  both.
- ``text_index_append(docs, path)`` — O(|batch|) incremental
  maintenance: append the batch's postings into the bucket
  partitions, update meta counters exactly (counts and token totals
  add; no rescan). df/idf of existing terms update implicitly because
  df is computed at query time from postings.

Bucketing: first 4 hex chars of md5(term) mod n_buckets — computable
identically in Spark (build side) and plain Python (query-time
pruning), the ``dedup_index._bucket`` recipe.

Scale note: a hot term ("the") makes a hot bucket; buckets bound the
READ (directories touched), not the join skew — the per-(doc, term)
aggregation already happened at build time, so query-time work on a
hot term is proportional to its true posting count, which is what
BM25 must read anyway (its idf also makes it worthless — callers
should stopword-filter queries, not the index).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import shutil
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.operators.text import tokens
from activedatawarehouseprototype_spark.operators.warehouse import (
    commit_swap,
    recover_swap,
)


def _bucket_col(term, n_buckets: int):
    hex4 = F.substring(F.md5(term.cast("binary")), 1, 4)
    return (F.conv(hex4, 16, 10).cast("int") % n_buckets).alias("bucket")


def _bucket_py(term: str, n_buckets: int) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n_buckets


def _postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    posts, _ = _observed_postings(docs, id_col, text_col)
    return posts


def _observed_postings(docs: DataFrame, id_col: str, text_col: str):
    """Postings frame plus an ``Observation`` carrying the doc-level
    meta stats (n_docs / n_dl_docs / total_tokens). The observation
    rides whatever action executes the postings (the build/append
    write), so the meta costs ZERO extra Spark jobs — it replaced a
    second full tokenize+scan per build/append (guide §1.5 job count,
    §5 redundant evaluation; same recipe as the IVF build meta)."""
    from pyspark.sql import Observation

    obs = Observation()
    # observe at the DOC level, before the explode (explode drops
    # NULL/empty-token docs, which the meta must still count); the
    # CollectMetrics node is also an optimizer barrier, so the token
    # array is materialized ONCE per row instead of re-evaluated by
    # both size() and explode()
    doc_level = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("_toks"),
    ).observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count("_toks").cast("bigint").alias("n_dl_docs"),
        F.coalesce(
            F.sum(F.size("_toks").cast("bigint")), F.lit(0).cast("bigint")
        ).alias("total_tokens"),
    )
    toks = doc_level.select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("_dl"),
        F.explode("_toks").alias("term"),
    )
    posts = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.max("_dl").alias("dl"),
    )
    return posts, obs


def _doc_stats(docs: DataFrame, text_col: str) -> dict:
    row = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.size(tokens(F.col(text_col)))).cast("bigint").alias(
            "n_dl_docs"
        ),
        F.coalesce(
            F.sum(F.size(tokens(F.col(text_col))).cast("bigint")), F.lit(0)
        ).alias("total_tokens"),
    ).collect()[0]
    return {
        "n_docs": row["n_docs"],
        "n_dl_docs": row["n_dl_docs"],
        "total_tokens": row["total_tokens"],
    }


_log = logging.getLogger(__name__)

# meta reads that fell back from the Observation to an aggregate job,
# by reason
obs_fallbacks: Counter = Counter()


def _obs_meta(obs, docs: DataFrame, text_col: str) -> dict:
    """Doc-level meta from the Observation that rode the postings
    write. Degenerate corpora (e.g. a statically all-NULL local
    relation) can be optimizer-collapsed to an empty plan before the
    CollectMetrics node runs, leaving the observation rowless: reading
    it then fails a JVM assertion converting the empty row. Only that
    case falls back to one explicit aggregate job (the pre-round-12
    path), counted in ``obs_fallbacks`` and logged; any other error
    raises."""
    try:
        return dict(obs.get)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.lang.AssertionError":
            raise
    obs_fallbacks["rowless observation"] += 1
    _log.warning("text index meta: rowless observation, recomputing with one aggregate job")
    return _doc_stats(docs, text_col)


def _write_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, "meta.json"))


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def text_index_build(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Build (or atomically replace) the index at ``path``."""
    recover_swap(path)
    spark = docs.sparkSession
    staging = path + ".staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    posts, obs = _observed_postings(docs, id_col, text_col)
    posts = posts.select(
        "term", "doc_id", "tf", "dl", _bucket_col(F.col("term"), n_buckets)
    )
    n_parts = min(
        n_buckets, spark.sparkContext.defaultParallelism
    )
    (
        posts.repartition(n_parts, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(staging, "postings"))
    )
    # the postings write doubles as the meta scan (Observation above)
    meta = _obs_meta(obs, docs, text_col)
    meta["n_buckets"] = n_buckets
    _write_meta(staging, meta)
    commit_swap(path, staging)
    return path


def text_index_append(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Append a NEW batch of documents (caller guarantees ids unseen —
    dedup-at-the-door upstream; re-appending an id would double its
    postings). Cost is O(|batch|): the existing postings are never
    read or rewritten. Meta counters add exactly, so avgdl/N stay
    exact, and df/idf pick up the new postings at query time.

    Crash contract: postings append first, meta second — a crash
    between them leaves the new docs searchable but slightly
    under-weighted (stale N/avgdl), fixed by re-running the meta
    update; never a wrong posting."""
    recover_swap(path)
    meta = _read_meta(path)
    spark = docs.sparkSession
    posts, obs = _observed_postings(docs, id_col, text_col)
    posts = posts.select(
        "term",
        "doc_id",
        "tf",
        "dl",
        _bucket_col(F.col("term"), meta["n_buckets"]),
    )
    n_parts = min(meta["n_buckets"], spark.sparkContext.defaultParallelism)
    (
        posts.repartition(n_parts, "bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "postings"))
    )
    # the append write doubles as the batch's meta scan (Observation)
    batch = _obs_meta(obs, docs, text_col)
    for k in ("n_docs", "n_dl_docs", "total_tokens"):
        meta[k] += batch[k]
    _write_meta(path, meta)
    return meta


def text_index_search(
    spark: SparkSession,
    path: str,
    queries: "list[tuple[int, str]]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` (query_id, doc_id, score) per query — identical output
    contract (formula, rounding, rank order) to ``retrieval.bm25_topk``,
    but reading only the query terms' bucket partitions."""
    if not queries:
        raise ValueError("text_index_search: empty query list")
    recover_swap(path)
    meta = _read_meta(path)
    qpairs = sorted(
        {(int(qid), t) for qid, text in queries for t in text.split(" ") if t}
    )
    if not qpairs:
        raise ValueError("text_index_search: no non-empty query terms")
    if meta["n_dl_docs"] == 0:
        raise ValueError(
            "text_index_search: index has no tokenized documents "
            "(every indexed text was NULL/empty) — avgdl is undefined"
        )
    all_terms = sorted({t for _, t in qpairs})
    buckets = sorted({_bucket_py(t, meta["n_buckets"]) for t in all_terms})
    q_df = spark.createDataFrame(qpairs, "query_id bigint, term string")

    posts = (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(buckets))  # -> PartitionFilters
        .filter(F.col("term").isin(all_terms))
    )
    dfreq = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    n = F.lit(meta["n_docs"]).cast("double")
    avgdl = F.lit(meta["total_tokens"] / meta["n_dl_docs"])
    idf = F.log(
        (n - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_sat = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    contrib = (
        posts.join(F.broadcast(q_df), "term")
        .join(F.broadcast(dfreq), "term")
        .select("query_id", "doc_id", (idf * tf_sat).alias("_c"))
    )
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("_c"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .drop("_rnk")
    )
