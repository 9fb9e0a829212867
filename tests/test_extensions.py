"""Semantic tests for dedup / similarity / text / multimodal operators
(beyond oracle equality): do they actually find what they claim to?"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.catalog import load
from activedatawarehouseprototype_spark.operators import dedup, multimodal, similarity
from activedatawarehouseprototype_spark.operators import text as T

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF, "embeddings")


def _near_corpus(docs, mod=50):
    planted = docs.filter(F.col("doc_id") % mod == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(planted), [
        r.doc_id for r in docs.filter(F.col("doc_id") % mod == 0).select("doc_id").collect()
    ]


def test_ngram_jaccard_finds_planted_neardups(spark, docs):
    corpus, planted_ids = _near_corpus(docs)
    pairs = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.6)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    for pid in planted_ids:
        assert (pid, pid + 1000000) in found, f"planted pair for doc {pid} missed"


def test_lsh_candidates_recall_on_planted(spark, docs):
    corpus, planted_ids = _near_corpus(docs)
    cands = {(r.id_a, r.id_b) for r in dedup.lsh_candidates(corpus, "doc_id", "text").collect()}
    # A near-dup differing by one trailing token shares almost all
    # shingles → with 3 bands of 4 at least one band should match for
    # the vast majority of planted pairs.
    hit = sum((pid, pid + 1000000) in cands for pid in planted_ids)
    assert hit >= len(planted_ids) * 0.7, f"LSH recall too low: {hit}/{len(planted_ids)}"


def test_simhash_collides_exact_dups(spark, docs):
    planted = docs.limit(5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    sigs = dedup.simhash16(corpus, "doc_id", "text")
    dup_groups = (
        sigs.groupBy("simhash").agg(F.count(F.lit(1)).alias("n")).filter("n > 1").count()
    )
    assert dup_groups >= 1


@pytest.mark.slow
def test_ann_lsh_scores_subset_of_brute_force(spark, emb):
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    brute = similarity.topk_brute_force(emb, qv, k=100, exclude_id=0)
    brute_scores = {r.vec_id: r.score for r in brute.collect()}

    bucketed = emb.withColumn(
        "bucket", similarity.random_hyperplane_bucket(F.col("embedding"))
    )
    qb = bucketed.filter(F.col("vec_id") == 0).head()["bucket"]
    assert len(qb) == 8 and set(qb) <= {"0", "1"}
    in_bucket = bucketed.filter((F.col("bucket") == qb) & (F.col("vec_id") != 0))
    scored = in_bucket.select(
        "vec_id",
        F.round(
            similarity.cosine(
                similarity.as_double_array(F.col("embedding")),
                F.array(*[F.lit(x) for x in qv]),
            ),
            6,
        ).alias("score"),
    ).collect()
    # Same-bucket vectors should skew similar: their mean cosine should
    # beat the global candidate mean (sanity of the hyperplane hash).
    if scored:
        bucket_mean = sum(r.score for r in scored) / len(scored)
        global_mean = sum(brute_scores.values()) / len(brute_scores)
        assert bucket_mean >= global_mean - 0.05


def _planted_ann_corpus(spark, emb, n_queries=40):
    """Corpus + a planted near-neighbor (id+100000) for each of the
    first n_queries vectors: q scaled by 0.9 with a deterministic
    md5-derived ±8% per-dim perturbation — close in cosine (top-1 by
    brute force) but noisy enough that some planted rows cross one
    hyperplane/cell boundary, which is exactly what multi-probe exists
    to recover."""
    base = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < n_queries).collect()
    }
    planted = []
    for vid, v in base.items():
        noisy = [
            x * 0.9
            + 0.08
            * abs(x)
            * (1 if hashlib.md5(f"{vid}:{d}".encode()).digest()[0] >= 128 else -1)
            for d, x in enumerate(v)
        ]
        planted.append((vid + 100000, noisy))
    extra = spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    corpus = emb.select(
        "vec_id", similarity.as_double_array(F.col("embedding")).alias("embedding")
    ).unionByName(extra)
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return corpus, queries, n_queries


def _recall(topk_rows, n_queries):
    hits = {
        r.qid for r in topk_rows if int(r.vec_id) == int(r.qid) + 100000
    }
    return len(hits) / n_queries


@pytest.mark.slow
def test_lsh_multiprobe_recall_beats_single_probe(spark, emb):
    corpus, queries, n = _planted_ann_corpus(spark, emb)
    r1 = _recall(
        similarity.lsh_topk_for_queries(corpus, queries, k=5, probes=1).collect(), n
    )
    r2 = _recall(
        similarity.lsh_topk_for_queries(corpus, queries, k=5, probes=2).collect(), n
    )
    assert r2 >= 0.9, f"multi-probe LSH recall {r2} below 0.9 (single: {r1})"
    assert r2 >= r1


def test_ivf_multiprobe_recall_beats_single_probe(spark, emb):
    corpus, queries, n = _planted_ann_corpus(spark, emb)
    r1 = _recall(
        similarity.ivf_topk_for_queries(
            corpus, queries, k=5, n_centroids=16, probes=1
        ).collect(),
        n,
    )
    r2 = _recall(
        similarity.ivf_topk_for_queries(
            corpus, queries, k=5, n_centroids=16, probes=2
        ).collect(),
        n,
    )
    assert r2 >= 0.9, f"multi-probe IVF recall {r2} below 0.9 (single: {r1})"
    assert r2 >= r1


def test_cosine_matches_python(spark, emb):
    rows = emb.filter(F.col("vec_id").isin(1, 2)).collect()
    v1 = [float(x) for x in rows[0]["embedding"]]
    v2 = [float(x) for x in rows[1]["embedding"]]
    expected = sum(a * b for a, b in zip(v1, v2)) / (
        math.sqrt(sum(a * a for a in v1)) * math.sqrt(sum(b * b for b in v2))
    )
    got = (
        emb.filter(F.col("vec_id") == rows[0]["vec_id"])
        .select(
            similarity.cosine(
                similarity.as_double_array(F.col("embedding")),
                F.array(*[F.lit(x) for x in v2]),
            ).alias("c")
        )
        .head()["c"]
    )
    assert abs(got - expected) < 1e-9


def test_multimodal_byte_stats_deterministic(spark, docs):
    one = docs.filter(F.col("doc_id") == 0)
    out = multimodal.byte_stats(multimodal.attach_blobs(one)).head()
    text = one.head()["text"]
    blob = hashlib.md5(text.encode()).digest()
    assert out["blob_len"] == 16
    assert abs(out["byte_mean"] - sum(blob) / len(blob)) < 1e-9
    counts: dict[int, int] = {}
    for x in blob:
        counts[x] = counts.get(x, 0) + 1
    ent = -sum((c / 16) * math.log2(c / 16) for c in counts.values())
    assert abs(out["byte_entropy"] - ent) < 1e-9


def test_decode_image_fake_codec_roundtrip(spark):
    """decode_image runs the documented deterministic FIMG codec:
    make_fake_image -> decode recovers exact dimensions and
    per-channel means; corrupt and NULL blobs yield per-row errors,
    never task failures."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    good = multimodal.make_fake_image(7, width=4, height=3, channels=2)
    df = spark.createDataFrame(
        [
            (7, bytearray(good)),
            (8, bytearray(b"JUNKJUNKJUNK")),
            (9, None),
            (10, bytearray(good[:-1])),  # truncated pixel payload
        ],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("content", BinaryType()),
            ]
        ),
    )
    out = {r.doc_id: r for r in multimodal.decode_image(df).collect()}
    ok = out[7]
    assert (ok.width, ok.height, ok.channels) == (4, 3, 2)
    assert ok.decode_error is None
    # exact per-channel means from the pure pixel function
    px = good[9:]
    for ch in range(2):
        sel = px[ch::2]
        assert abs(ok.channel_means[ch] - sum(sel) / len(sel)) < 1e-12
    assert out[8].decode_error == "not a FIMG blob"
    assert out[9].decode_error == "not a FIMG blob"
    assert "truncated" in out[10].decode_error
    assert out[8].width is None and out[10].channel_means is None


def test_decode_feeds_feature_chain(spark):
    """The decode -> channel-mean 'embedding' chain is a real
    DataFrame pipeline: decoded means are array<double> usable by the
    similarity operators directly."""
    rows = [
        (i, bytearray(multimodal.make_fake_image(i, 6, 6, 3)))
        for i in range(12)
    ]
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    df = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("content", BinaryType()),
            ]
        ),
    ).repartition(2)
    # 2 partitions, not the session default: the non-equi self-join
    # below is a nested-loop over partition PAIRS, and each pair pays a
    # Python-worker round for the mapInPandas decode on both sides —
    # 32x32 pairs made this 12-row test run ~3 minutes
    dec = multimodal.decode_image(df).filter("decode_error IS NULL")
    assert dec.count() == 12
    from activedatawarehouseprototype_spark.operators.similarity import (
        cosine,
    )

    a = dec.select(
        F.col("doc_id").alias("id_a"), F.col("channel_means").alias("va")
    )
    b = dec.select(
        F.col("doc_id").alias("id_b"), F.col("channel_means").alias("vb")
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("s"))
    )
    assert pairs.count() == 66
    assert pairs.filter("s IS NULL").count() == 0


def test_text_helpers(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "alpha beta gamma delta")],
        "id long, text string",
    )
    out = {
        r.id: r
        for r in df.select(
            "id",
            T.token_count(F.col("text")).alias("tc"),
            T.stopword_count(F.col("text")).alias("sw"),
            T.lang_id(F.col("text")).alias("lang"),
            T.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    assert out[1].tc == 6 and out[1].sw == 3 and out[1].lang == "en"
    assert out[2].sw == 0 and out[2].lang == "und"
    expected_fp = hashlib.md5(b"the cat sat on the mat").hexdigest()
    assert out[1].fp == expected_fp


def test_approx_sketches_within_tolerance(spark):
    """HLL distinct + approximate quantiles: the entry's exact columns
    match an independent recompute and every estimate-bound boolean is
    TRUE (the driver hashes those booleans against a TRUE-emitting
    oracle — round-7 upgrade from the rows-only tier)."""
    from activedatawarehouseprototype_spark.corpus.stats import (
        sketch_approx_distinct_and_quantiles,
    )
    from activedatawarehouseprototype_spark.catalog import load

    li = load(spark, SF, "lineitem")
    got = {
        r.l_returnflag: r
        for r in sketch_approx_distinct_and_quantiles(spark, SF).collect()
    }
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for flag, ex in exact.items():
        g = got[flag]
        assert (g.exact_parts, g.n) == (ex.d, ex.n)
        assert g.distinct_ok and g.median_ok, flag


def test_connected_components_matches_union_find(spark):
    """Distributed min-label propagation vs an independent union-find
    on assorted topologies (chain, clique, singletons-in-pairs, star)."""
    from activedatawarehouseprototype_spark.operators.dedup import (
        connected_components,
    )

    pairs = [
        (1, 2), (2, 3), (3, 4), (4, 5),        # chain (diameter 4)
        (10, 11), (10, 12), (11, 12),          # triangle
        (20, 21),                              # isolated pair
        (30, 31), (30, 32), (30, 33), (30, 34) # star
    ]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {
        (r.id, r.comp) for r in connected_components(df).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    want = {(v, find(v)) for v in parent}
    assert got == want


def test_deterministic_sampling_properties(spark):
    """Hash sampling: stable across partitionings, rates nest, observed
    rate within tolerance, splits partition the corpus."""
    from activedatawarehouseprototype_spark.operators import sampling

    df = spark.range(10_000).withColumnRenamed("id", "doc_id")
    s10 = sampling.deterministic_sample(df, 0.10, ["doc_id"])
    s20 = sampling.deterministic_sample(df, 0.20, ["doc_id"])
    ids10 = {r.doc_id for r in s10.collect()}
    ids20 = {r.doc_id for r in s20.collect()}
    assert ids10 <= ids20                     # rates nest
    assert abs(len(ids10) / 10_000 - 0.10) < 0.02
    assert abs(len(ids20) / 10_000 - 0.20) < 0.02
    # partitioning-independent
    ids10b = {
        r.doc_id
        for r in sampling.deterministic_sample(
            df.repartition(17), 0.10, ["doc_id"]
        ).collect()
    }
    assert ids10b == ids10
    # independent salt draws a different sample
    ids10c = {
        r.doc_id
        for r in sampling.deterministic_sample(
            df, 0.10, ["doc_id"], salt="other"
        ).collect()
    }
    assert ids10c != ids10
    # splits cover every row exactly once
    splits = (
        df.withColumn("split", sampling.assign_split(["doc_id"]))
        .groupBy("split")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in splits) == 10_000
    assert {r.split for r in splits} == {"train", "val", "test"}


def test_ivf_assign_properties(spark):
    """Coarse quantizer: every vector gets a cell, cells come from the
    seed set, and each seed vector is assigned to itself (distance 0)."""
    from activedatawarehouseprototype_spark.catalog import load
    from activedatawarehouseprototype_spark.operators.similarity import ivf_assign

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    assigned = ivf_assign(emb, k=8)
    rows = assigned.select("vec_id", "cell").collect()
    assert len(rows) == emb.count()
    seed_ids = {r.vec_id for r in emb.orderBy("vec_id").limit(8).collect()}
    assert {r.cell for r in rows} <= seed_ids
    for r in rows:
        if r.vec_id in seed_ids:
            assert r.cell == r.vec_id  # a seed's nearest centroid is itself


def test_stream_exact_dedup(spark, tmp_path):
    """Streaming dedup emits the first arrival per key and suppresses
    re-arrivals within the watermark horizon, across micro-batches."""
    import datetime as dt

    from activedatawarehouseprototype_spark.operators.dedup import (
        stream_exact_dedup,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows1 = [("a", base, 1.0), ("b", base, 2.0), ("a", base, 3.0)]
    rows2 = [("a", base, 4.0), ("c", base, 5.0)]
    d = tmp_path / "dedup_events"
    d.mkdir()
    schema = "k string, ts timestamp, v double"
    spark.createDataFrame(rows1, schema).repartition(1).write.parquet(
        str(d / "f1")
    )
    spark.createDataFrame(rows2, schema).repartition(1).write.parquet(
        str(d / "f2")
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(d) + "/*")
    q = (
        stream_exact_dedup(stream, ["k"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM dedup_out").collect()
    # one row per key, regardless of intra- and inter-batch repeats
    assert sorted(r.k for r in out) == ["a", "b", "c"]


def test_pack_sequences_properties(spark):
    """Start-bin packing invariants: deterministic, every doc binned,
    bins fill to capacity with overflow bounded by one document."""
    from pyspark.sql import functions as F2

    from activedatawarehouseprototype_spark.operators.packing import pack_sequences

    df = spark.range(2000).select(
        F2.col("id").alias("doc_id"),
        (F2.pmod(F2.col("id") * 37, F2.lit(90)) + 10).alias("n_tok"),  # 10..99
    )
    cap = 512
    packed = pack_sequences(df, capacity=cap, token_col="n_tok")
    rows = packed.collect()
    assert len(rows) == 2000
    bins = (
        packed.groupBy("shard", "bin")
        .agg(F2.sum("n_tok").alias("tot"), F2.max("n_tok").alias("mx"))
        .collect()
    )
    # overflow bounded: a bin holds < capacity before its last doc starts
    assert all(r.tot < cap + r.mx for r in bins)
    # deterministic across partitionings
    again = {
        (r.doc_id, r.shard, r.bin)
        for r in pack_sequences(
            df.repartition(13), capacity=cap, token_col="n_tok"
        ).collect()
    }
    assert again == {(r.doc_id, r.shard, r.bin) for r in rows}
    # fill efficiency: average non-final-bin fill is >= 80% of capacity
    per_shard_max = {
        (r.shard, r.bin): r.tot for r in bins
    }
    non_final = [
        tot for (sh, b), tot in per_shard_max.items()
        if any(b2 > b for (sh2, b2) in per_shard_max if sh2 == sh)
    ]
    assert sum(non_final) / len(non_final) >= 0.8 * cap


def test_cli_dedup_and_sample_subcommands(spark, tmp_path):
    """The curation CLI surface writes real parquet outputs."""
    from activedatawarehouseprototype_spark.cli import main

    docs = "/root/testdata/sf0.001/documents.parquet"
    out1 = str(tmp_path / "clusters")
    assert main(["dedup", "--input", docs, "--output", out1]) == 0
    clusters = spark.read.parquet(out1)
    assert set(clusters.columns) == {"doc_id", "component"}
    assert clusters.count() > 0

    out2 = str(tmp_path / "splits")
    assert main(["sample", "--input", docs, "--output", out2,
                 "--key", "doc_id"]) == 0
    splits = spark.read.parquet(out2)
    counts = {r.split: r["count"] for r in splits.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / splits.count() - 0.8) < 0.1


def test_quantize_int8_bounds(spark):
    """int8 quantization invariants: q in [-127,127], per-component
    reconstruction error <= scale/2 (+ float eps)."""
    from pyspark.sql import functions as F2

    from activedatawarehouseprototype_spark.catalog import load
    from activedatawarehouseprototype_spark.operators import similarity

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    qz = e.select(
        similarity.as_double_array(F2.col("embedding")).alias("v"),
        similarity.quantize_int8(F2.col("embedding")).alias("qz"),
    )
    rows = qz.select(
        F2.array_max(F2.transform("qz.q", lambda x: F2.abs(x))).alias("qmax"),
        F2.array_max(
            F2.zip_with(
                "v", "qz.q",
                lambda x, q: F2.abs(x - q.cast("double") * F2.col("qz.scale")),
            )
        ).alias("err_max"),
        F2.col("qz.scale").alias("scale"),
    ).collect()
    assert all(r.qmax <= 127 for r in rows)
    assert all(r.err_max <= r.scale / 2 + 1e-12 for r in rows)


def test_stratified_sample_rates(spark):
    """Per-stratum rates hold approximately and are deterministic."""
    from pyspark.sql import functions as F2

    from activedatawarehouseprototype_spark.operators import sampling

    df = spark.range(30_000).select(
        F2.col("id").alias("doc_id"),
        F2.when(F2.col("id") % 3 == 0, "a").when(F2.col("id") % 3 == 1, "b")
        .otherwise("c").alias("src"),
    )
    kept = sampling.stratified_sample(
        df, {"a": 1.0, "b": 0.3}, "src", ["doc_id"], default_rate=0.0
    )
    counts = {r.src: r["count"] for r in kept.groupBy("src").count().collect()}
    assert counts["a"] == 10_000            # rate 1.0 keeps everything
    assert abs(counts["b"] / 10_000 - 0.3) < 0.03
    assert "c" not in counts                # default 0.0 drops the rest


def test_cli_run_subcommand_e2e(spark, tmp_path, capsys):
    """`cli run --once` drains a parquet stream through the active
    pipeline with rules from the watched dir and writes alerts. The
    stage flags build their stages (each gate's output directory holds
    rows), and half of a stage's required flags fails at the command
    line."""
    import datetime as dt
    import json as _json

    from activedatawarehouseprototype_spark.cli import main

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    events_dir = tmp_path / "ev"
    spark.createDataFrame(
        [(9, base, 130.0), (7, base + dt.timedelta(seconds=1), 90.0)],
        "carId int, ts timestamp, speed double",
    ).repartition(1).write.parquet(str(events_dir))
    rules_dir = tmp_path / "rules"
    rules_dir.mkdir()
    (rules_dir / "r.json").write_text(_json.dumps({
        "queryId": 1, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 10_000, "frequencyMilliseconds": 0,
        "groupingKeyNames": ["carId"], "windowFilterRules": [],
        "aggregatorFunctionType": "AVG", "limitOperatorType": ">",
        "limit": 120, "aggregateFieldName": "speed",
    }) + "\n")
    work = tmp_path / "work"
    work.mkdir()
    rc = main([
        "run", "--events-dir", str(events_dir), "--rules-dir", str(rules_dir),
        "--work-dir", str(work), "--once",
        "--mv-key", "carId", "--mv-value", "speed",
        "--mv-hist", "0,200,10", "--alert-cooldown-ms", "60000",
    ])
    assert rc == 0
    alerts = spark.read.parquet(str(work / "alerts" / "data"))
    assert {r.key for r in alerts.collect()} == {"{carId=9}"}
    rows = spark.read.parquet(str(work / "summary_mv")).collect()
    mv = {r.carId: (r.n, r.total) for r in rows}
    assert mv == {9: (1, 130.0), 7: (1, 90.0)}
    # --mv-hist parsed into real histogram bins: 130 -> bin 6, 90 -> 4
    hists = {r.carId: list(r.hist) for r in rows}
    assert hists[9][6] == 1 and sum(hists[9]) == 1
    assert hists[7][4] == 1 and sum(hists[7]) == 1

    # every gate stage, on a second stream with no rules: four flat
    # hours for car 1, then a spike hour the anomaly stage flags within
    # the first batch; its 120 rows are the drift gate's reference for
    # the second run's batch
    gates = [
        "--anomaly-key", "carId", "--anomaly-value", "speed",
        "--drift-value", "speed", "--drift-bins", "0,1000,10",
        "--cusum-value", "speed", "--cusum-target", "50",
        "--mad-value", "speed", "--mad-center", "50", "--mad-scale", "1",
    ]
    gate_rows = [
        (1, base + dt.timedelta(hours=h, seconds=s), 500.0 if h == 4 else 49.0 + h % 3)
        for h in range(5)
        for s in range(24)
    ]
    schema = "carId int, ts timestamp, speed double"
    gate_events = str(tmp_path / "gate_ev")
    spark.createDataFrame(gate_rows, schema).repartition(1).write.parquet(gate_events)
    (tmp_path / "no_rules").mkdir()
    gate_work = tmp_path / "gate_work"
    run_gates = [
        "run", "--events-dir", gate_events, "--rules-dir", str(tmp_path / "no_rules"),
        "--work-dir", str(gate_work), "--once", *gates,
    ]
    assert main(run_gates) == 0
    spark.createDataFrame(
        [(1, base + dt.timedelta(hours=5), 50.0)], schema
    ).repartition(1).write.mode("append").parquet(gate_events)
    assert main(run_gates) == 0
    for out in ("anomalies", "drift", "cusum", "madgate"):
        assert spark.read.parquet(str(gate_work / out)).count() > 0, out

    # --cusum-value without --cusum-target: a usage error, exit 2
    capsys.readouterr()
    with pytest.raises(SystemExit) as exc:
        main([
            "run", "--events-dir", gate_events, "--rules-dir", str(tmp_path / "no_rules"),
            "--work-dir", str(tmp_path / "half_work"), "--once",
            "--cusum-value", "speed",
        ])
    assert exc.value.code == 2
    assert "--cusum-value needs --cusum-target" in capsys.readouterr().err


def test_curation_pipeline_end_to_end(spark):
    """The full training-data curation chain over the documents table:
    quality gate → near-dup removal (keeper per cluster) → stratified
    mix → split assignment → sequence packing. Deterministic, no
    collects in the data plane, every stage an operator tested above."""
    from pyspark.sql import functions as F2

    from activedatawarehouseprototype_spark.catalog import load
    from activedatawarehouseprototype_spark.operators import (
        dedup, packing, sampling, text,
    )

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    n_raw = docs.count()

    # 1. quality gate (kept = no failing rule)
    kept = docs.filter(
        text.filter_reason(
            F2.col("text"), F2.col("n_chars"),
            min_tokens=20, max_chars=450, min_stopword_ratio=0.04,
        ).isNull()
    )
    n_kept = kept.count()
    assert 0 < n_kept < n_raw

    # 2. near-dup removal: drop every non-keeper cluster member
    pairs = dedup.lsh_candidates(kept, "doc_id", "text", k=12, bands=3,
                                 max_doc_freq=50)
    comps = dedup.connected_components(pairs)
    dupes = comps.filter(F2.col("id") != F2.col("comp")).select(
        F2.col("id").alias("doc_id")
    )
    deduped = kept.join(dupes, "doc_id", "left_anti")
    n_deduped = deduped.count()
    assert n_deduped <= n_kept

    # 2b. boilerplate scrub: repeated cross-doc spans removed IN PLACE
    # (rewrites docs rather than dropping them)
    scrubbed = (
        dedup.repeated_span_dedup(deduped, "doc_id", "text")
        .join(deduped.drop("text"), "doc_id")
        .withColumnRenamed("clean_text", "text")
    )
    assert scrubbed.count() == n_deduped  # 1:1 rewrite, no drops
    # upstream near-dup removal already evicted the span-sharing
    # clusters here, so the scrub must be a clean passthrough:
    # zero removals ⇒ text survives byte-identical
    untouched = scrubbed.filter(F2.col("chunks_removed") == 0)
    orig = deduped.select("doc_id", F2.col("text").alias("_orig"))
    assert (
        untouched.join(orig, "doc_id")
        .filter(F2.col("text") != F2.col("_orig"))
        .count()
        == 0
    )

    # 2c. DSIR selection toward the en slice: weighted resampling gate
    weights = text.dsir_log_weights(
        scrubbed.select("doc_id", "text"),
        scrubbed.filter(F2.col("lang") == "en").select("doc_id", "text"),
    )
    selected = scrubbed.join(
        weights.filter(F2.col("log_weight") > -0.05).select("doc_id"), "doc_id"
    )
    n_selected = selected.count()
    assert 0 < n_selected <= n_deduped

    # 3. stratified mix + 4. split + 5. packing
    mixed = sampling.stratified_sample(
        selected, {"en": 1.0}, "lang", ["doc_id"], default_rate=0.5
    )
    final = mixed.withColumn("split", sampling.assign_split(["doc_id"]))
    packed = packing.pack_sequences(
        final.withColumn("n_tok", text.token_count(F2.col("text"))),
        capacity=512, token_col="n_tok",
    )
    out = packed.select("doc_id", "lang", "split", "shard", "bin")
    rows = out.collect()
    assert len(rows) == mixed.count()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    # deterministic end-to-end: a second run yields identical assignments
    again = packing.pack_sequences(
        final.withColumn("n_tok", text.token_count(F2.col("text"))),
        capacity=512, token_col="n_tok",
    ).select("doc_id", "lang", "split", "shard", "bin").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_misra_gries_heavy_hitters(spark):
    """Distributed Misra-Gries: planted heavy hitters (zipf-ish skew)
    must surface in the top-k with counts within the MG bound."""
    from pyspark.sql import functions as F2

    from activedatawarehouseprototype_spark.operators.sketches import (
        approx_heavy_hitters,
        misra_gries_partials,
    )

    # local summary property: a strict majority item always survives
    import pandas as pd

    s = pd.Series(["a"] * 60 + ["b"] * 25 + [f"x{i}" for i in range(15)])
    counters = misra_gries_partials(s, k=4)
    assert "a" in counters

    # distributed: token frequencies ~ id % pattern, heavy head planted
    n = 200_000
    df = spark.range(n).select(
        F2.when(F2.col("id") % 4 == 0, "hot1")        # 25%
        .when(F2.col("id") % 4 == 1, "hot2")          # 25%
        .otherwise(F2.concat(F2.lit("tail"), (F2.col("id") % 5000).cast("string")))
        .alias("tok")
    ).repartition(16)
    top = approx_heavy_hitters(df, "tok", k=64, top=5)
    rows = {r.item: r.approx_count for r in top.collect()}
    assert {"hot1", "hot2"} <= set(rows)
    # under-estimate bound: merged count >= true - partitions * batch/(k+1)
    true = n // 4
    assert all(rows[h] <= true for h in ("hot1", "hot2"))
    assert all(rows[h] >= true * 0.5 for h in ("hot1", "hot2"))


def test_connected_components_long_chain_pointer_doubling(spark):
    """A 200-node chain (diameter 199) must converge well within
    max_iter=25: pointer doubling reaches distance 2^k after k rounds,
    so O(log n) rounds suffice — the round-3 silent-exit edge is gone."""
    from activedatawarehouseprototype_spark.operators.dedup import (
        connected_components,
    )

    pairs = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {(r.id, r.comp) for r in connected_components(df).collect()}
    assert got == {(i, 0) for i in range(201)}


def test_connected_components_non_convergence_signal(spark):
    """Exiting with labels still changing must raise (default) or warn
    (opt-in) — never silently return over-split components."""
    import pytest

    from activedatawarehouseprototype_spark.operators.dedup import (
        connected_components,
    )

    pairs = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        partial = connected_components(df, max_iter=1, on_non_convergence="warn")
    # partial labels still cover every vertex
    assert partial.count() == 31
    with pytest.raises(ValueError, match="on_non_convergence"):
        connected_components(df, on_non_convergence="nope")


def test_cli_dedup_exact_mode_cluster_schema(spark, tmp_path):
    """`dedup --mode exact` emits the SAME (id, component) cluster
    schema as minhash mode (round-3 ADVICE: the modes used to write
    different shapes and only minhash was tested)."""
    from pyspark.sql import functions as F2

    from activedatawarehouseprototype_spark.cli import main

    src = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "The  quick brown FOX"),   # fingerprint-equal to 1
            (3, "entirely different text"),
            (4, "the quick brown fox"),    # exact copy of 1
        ],
        "doc_id bigint, text string",
    )
    docs = str(tmp_path / "docs")
    src.write.parquet(docs)
    out = str(tmp_path / "clusters_exact")
    assert main(["dedup", "--input", docs, "--output", out,
                 "--mode", "exact"]) == 0
    clusters = spark.read.parquet(out)
    assert set(clusters.columns) == {"doc_id", "component"}
    got = {(r.doc_id, r.component) for r in clusters.collect()}
    # docs 1,2,4 share a fingerprint → component = keeper id 1;
    # doc 3 is unique → not emitted (consistent with minhash mode,
    # which only emits members of multi-doc components)
    assert got == {(1, 1), (2, 1), (4, 1)}


def test_contamination_pairs_containment_semantics(spark):
    """Decontamination is CONTAINMENT, not Jaccard: a train doc that
    embeds a whole benchmark item inside a larger page scores 1.0; a
    partial copy scores its covered fraction; unrelated text is absent."""
    from activedatawarehouseprototype_spark.operators.dedup import (
        contamination_pairs,
    )

    bench = spark.createDataFrame(
        [(1, "q w e r t y u i")],  # 8 tokens -> 6 trigram shingles
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (10, "PAGE HEader q w e r t y u i FOOTER text"),  # embeds all
            (11, "q w e r t"),                                # 3 of 6 shingles
            (12, "completely unrelated content here"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.train_id: (r.n_inter, r.n_bench, r.overlap)
        for r in contamination_pairs(
            train, bench, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert got[10] == (6, 6, 1.0)
    assert got[11] == (3, 6, 0.5)
    assert 12 not in got


def test_multimodal_frame_sampling_and_features(spark):
    """Frame-sampling (1 blob row -> N frame rows) and fixed-width
    feature extraction over binary blobs: schema contract, exact
    deterministic values, and the multimodal -> ANN integration."""
    import hashlib

    from pyspark.sql import functions as F2

    from activedatawarehouseprototype_spark.operators import multimodal, similarity

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id bigint, text string",
    )
    blobs = multimodal.attach_blobs(docs)  # 16-byte md5 digests

    # frames: 16 bytes / frame_bytes=4 -> 4 frames; stride 2 -> idx 0, 2
    frames = multimodal.sample_frames(blobs, frame_bytes=4, stride=2)
    rows = frames.collect()
    assert {(r.doc_id, r.frame_idx) for r in rows} == {
        (d, k) for d in (1, 2, 3) for k in (0, 2)
    }
    digest = hashlib.md5("alpha beta".encode()).digest()
    by_key = {(r.doc_id, r.frame_idx): bytes(r.frame) for r in rows}
    assert by_key[(1, 0)] == digest[0:4]
    assert by_key[(1, 2)] == digest[8:12]
    assert all(r.frame_len == 4 for r in rows)

    # features: L1-normalized folded byte histogram, deterministic
    feats = multimodal.extract_features(blobs, dim=8)
    frows = {r.doc_id: r.feature for r in feats.collect()}
    assert all(abs(sum(v) - 1.0) < 1e-12 for v in frows.values())
    assert frows[1] == frows[3]  # same text -> same blob -> same feature
    assert frows[1] != frows[2]

    # integration: the feature column drives the ANN brute-force top-k
    emb = feats.select(
        F2.col("doc_id").alias("vec_id"), F2.col("feature").alias("embedding")
    )
    top = similarity.topk_brute_force(emb, frows[1], k=2, exclude_id=1).collect()
    assert [r.vec_id for r in top] == [3, 2]  # identical blob first

    with pytest.raises(ValueError):
        multimodal.sample_frames(blobs, frame_bytes=0)
    with pytest.raises(ValueError):
        multimodal.extract_features(blobs, dim=0)


def test_cli_decontaminate_subcommand(spark, tmp_path):
    """`decontaminate` CLI writes the (train_id, bench_id, n_inter,
    n_bench, overlap) contamination table."""
    from activedatawarehouseprototype_spark.cli import main

    bench = spark.createDataFrame(
        [(1, "q w e r t y u i")], "doc_id bigint, text string"
    )
    train = spark.createDataFrame(
        [(10, "header q w e r t y u i footer"), (11, "unrelated stuff here")],
        "doc_id bigint, text string",
    )
    bpath, tpath = str(tmp_path / "bench"), str(tmp_path / "train")
    bench.write.parquet(bpath)
    train.write.parquet(tpath)
    out = str(tmp_path / "contam")
    assert main([
        "decontaminate", "--train", tpath, "--bench", bpath,
        "--output", out, "--n", "3",
    ]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert (rows[0].train_id, rows[0].bench_id, rows[0].overlap) == (10, 1, 1.0)


def test_winnow_fingerprints_guarantee_and_density(spark):
    """The winnowing contract: (a) any shared token run >= w + k - 1
    long yields >= 1 identical fingerprint in both documents; (b) the
    fingerprint set is a strict subset of the k-gram hash set, ~2/(w+1)
    dense on random text (we assert the loose bound < 60%); (c) edge
    cases: < k tokens -> empty, < w hashes -> the global min."""
    k, w = 5, 4
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 = w+k-1
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six seven"),
            (2, f"{shared} nine ten eleven twelve thirteen"),
            (3, "tiny doc"),  # < k tokens
            (4, "a b c d e f"),  # 2 k-grams < w -> single global min
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.fps, r.nh)
        for r in df.select(
            "doc_id",
            T.winnow_fingerprints("text", k, w).alias("fps"),
            F.size(T.kgram_hashes("text", k)).alias("nh"),
        ).collect()
    }
    assert set(out[1][0]) & set(out[2][0]), "shared 8-token run must share a fingerprint"
    assert out[3] == ([], 0)
    assert len(out[4][0]) == 1 and out[4][1] == 2
    # density on a longer random-ish doc: winnowed set ≪ full hash set
    long_doc = " ".join(f"tok{(i * 7919) % 997}" for i in range(200))
    row = (
        spark.createDataFrame([(9, long_doc)], "doc_id bigint, text string")
        .select(
            F.size(T.winnow_fingerprints("text", k, w)).alias("nf"),
            F.size(T.kgram_hashes("text", k)).alias("nh"),
        )
        .head()
    )
    assert 0 < row.nf < 0.6 * row.nh, f"winnowing not sparse: {row.nf}/{row.nh}"


def test_winnow_overlap_pairs_partial_copy(spark):
    """A 14-token prefix copied into junk is found by winnow overlap
    (whole-doc fingerprinting misses it) with high containment."""
    src = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 tail1 tail2 tail3 tail4"
    cp = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 junk1 junk2 junk3"
    other = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    df = spark.createDataFrame(
        [(1, src), (2, cp), (3, other)], "doc_id bigint, text string"
    )
    pairs = dedup.winnow_overlap_pairs(df, "doc_id", "text", threshold=0.3).collect()
    found = {(r.id_a, r.id_b): r.containment for r in pairs}
    assert (1, 2) in found and found[(1, 2)] >= 0.5
    assert not any(3 in p for p in found)
    # whole-doc fingerprint indeed misses it
    fps = df.select(T.fingerprint(F.col("text")).alias("fp")).collect()
    assert len({r.fp for r in fps}) == 3


def test_chunk_documents_reconstruction_and_bounds(spark):
    """Chunk text reproduces the document: chunk 0 verbatim + each
    later chunk minus its overlap prefix; token counts per chunk are
    within [1, chunk_tokens]; short docs give exactly one chunk."""
    from activedatawarehouseprototype_spark.operators import packing

    docs = [
        (1, " ".join(f"t{i}" for i in range(75))),
        (2, " ".join(f"s{i}" for i in range(32))),   # == chunk -> 1 chunk
        (3, " ".join(f"u{i}" for i in range(33))),   # chunk+1 -> 2 chunks
        (4, "single"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    chunk_tokens, overlap = 32, 8
    stride = chunk_tokens - overlap
    out = packing.chunk_documents(df, "doc_id", "text", chunk_tokens, overlap)
    rows = sorted(
        [(r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens) for r in out.collect()]
    )
    by_doc: dict[int, list] = {}
    for d, i, txt, n in rows:
        assert 1 <= n <= chunk_tokens
        assert n == len(txt.split(" "))
        by_doc.setdefault(d, []).append((i, txt))
    assert len(by_doc[2]) == 1 and len(by_doc[3]) == 2 and len(by_doc[4]) == 1
    for d, text in docs:
        toks = text.split(" ")
        rebuilt: list[str] = []
        for i, txt in sorted(by_doc[d]):
            ctoks = txt.split(" ")
            rebuilt.extend(ctoks if i == 0 else ctoks[overlap:])
        assert rebuilt == toks, f"doc {d} not reconstructable from chunks"
        # consecutive chunks agree on the overlap region
        chunks = [txt.split(" ") for _, txt in sorted(by_doc[d])]
        for a, b in zip(chunks, chunks[1:]):
            assert a[stride : stride + overlap] == b[: len(a) - stride]
    with pytest.raises(ValueError):
        packing.chunk_documents(df, "doc_id", "text", 32, 32)


def test_redact_pii_scrubs_all_patterns(spark):
    """After redaction no PII pattern matches; counts see the planted
    occurrences; PII-free text passes through byte-identical."""
    df = spark.createDataFrame(
        [
            (1, "mail a.b-c_9@sub.example.org and 10.0.3.7 then 555-123-4567 ok"),
            (2, "no pii here at all"),
            (3, "two mails x@y.io z@w.ai and ip 192.168.0.1"),
        ],
        "doc_id bigint, text string",
    )
    out = df.select(
        "doc_id",
        F.col("text"),
        T.redact_pii(F.col("text")).alias("red"),
        *T.pii_counts(F.col("text")),
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_email == 1 and rows[1].n_ipv4 == 1 and rows[1].n_phone == 1
    assert rows[2].red == rows[2].text
    assert rows[3].n_email == 2 and rows[3].n_ipv4 == 1
    # nothing left to match after the scrub
    residue = out.select(*[c.alias(f"r{i}") for i, c in enumerate(T.pii_counts(F.col("red")))]).collect()
    assert all(v == 0 for r in residue for v in r)
    assert "[EMAIL]" in rows[1].red and "[IP]" in rows[1].red and "[PHONE]" in rows[1].red


def test_embedding_near_dup_finds_scaled_copy(spark, emb):
    """A positively-scaled copy shares its source's bucket by
    construction and scores cosine 1.0 -> always recovered."""
    e = emb.select(
        "vec_id", similarity.as_double_array(F.col("embedding")).alias("v")
    ).limit(100)
    planted = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(2.0)).alias("v"),
    )
    planted_ids = [r.vec_id - 1000000 for r in planted.select("vec_id").collect()]
    pairs = similarity.embedding_near_dup_pairs(
        e.unionByName(planted), "vec_id", "v", threshold=0.99
    )
    found = {(r.id_a, r.id_b): r.score for r in pairs.collect()}
    for pid in planted_ids:
        assert (pid, pid + 1000000) in found, f"scaled copy of {pid} missed"
        assert found[(pid, pid + 1000000)] == 1.0


def test_token_budget_mix_nesting_and_budget_bound(spark, docs):
    from activedatawarehouseprototype_spark.operators import sampling

    d = docs.withColumn("tok", T.token_count(F.col("text")))
    small = sampling.token_budget_mix(
        d, {"src0": 400}, "source", "tok", ["doc_id"], default_budget=300
    )
    big = sampling.token_budget_mix(
        d, {"src0": 900}, "source", "tok", ["doc_id"], default_budget=700
    )
    small_ids = {r.doc_id for r in small.select("doc_id").collect()}
    big_ids = {r.doc_id for r in big.select("doc_id").collect()}
    assert small_ids <= big_ids, "budgets must nest for the same salt"
    got = {
        r.source: r.t
        for r in small.groupBy("source").agg(F.sum("tok").alias("t")).collect()
    }
    for src, tot in got.items():
        assert tot <= (400 if src == "src0" else 300), (src, tot)


def test_token_budget_threshold_tracks_exact_within_bucket(spark, docs):
    from activedatawarehouseprototype_spark.operators import sampling

    d = docs.withColumn("tok", T.token_count(F.col("text")))
    budgets = {"src0": 600, "src1": 900}
    exact = sampling.token_budget_mix(
        d, budgets, "source", "tok", ["doc_id"], default_budget=500
    )
    # With enough buckets each doc gets its own bucket, so the bucketed
    # threshold reproduces the exact window selection. The threshold
    # variant has no default budget (unnamed sources select nothing),
    # so compare only the named sources.
    fine = sampling.token_budget_threshold(
        d, budgets, "source", "tok", ["doc_id"], n_buckets=1 << 20
    )
    e = {
        (r.source, r.doc_id)
        for r in exact.filter(F.col("source").isin("src0", "src1")).collect()
    }
    f = {
        (r.source, r.doc_id)
        for r in fine.filter(F.col("source").isin("src0", "src1")).collect()
    }
    assert f == e, "fine-grained threshold must match the exact window selection"
    # Coarse buckets: still within budget, and within one bucket's
    # tokens of the exact selection per source.
    coarse = sampling.token_budget_threshold(
        d, budgets, "source", "tok", ["doc_id"], n_buckets=16
    )
    ct = {
        r.source: r.t
        for r in coarse.groupBy("source").agg(F.sum("tok").alias("t")).collect()
    }
    for src, b in budgets.items():
        assert ct.get(src, 0) <= b, (src, ct)


def test_write_training_shards_layout(spark, docs, tmp_path):
    from activedatawarehouseprototype_spark.operators import sampling

    path = str(tmp_path / "shards")
    sampling.write_training_shards(
        docs.select("doc_id", "text"), path, n_shards=4, key_cols=["doc_id"]
    )
    back = spark.read.parquet(path)
    assert {r.shard for r in back.select("shard").distinct().collect()} <= set(range(4))
    assert back.count() == docs.count()
    # every shard's rows are a contiguous 1..n _pos sequence, and the
    # deterministic permutation is reproducible run to run
    mans = back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_pos").alias("lo"),
        F.max("_pos").alias("hi"),
        F.sum("_pos").alias("s"),
    )
    for r in mans.collect():
        assert (r.lo, r.hi) == (1, r.n) and r.s == r.n * (r.n + 1) // 2, r
    again = docs.select(
        "doc_id", sampling.shard_assignment(["doc_id"], 4).alias("shard")
    )
    merged = back.select("doc_id", F.col("shard").cast("int").alias("shard")).join(
        again.withColumnRenamed("shard", "shard2"), "doc_id"
    )
    assert merged.filter(F.col("shard") != F.col("shard2")).count() == 0


def test_semantic_cluster_survivors_removes_planted(spark, emb):
    """Planted exact-direction copies (x*1.001, cosine 1.0 with their
    original) must be removed; originals survive. Works with both the
    deterministic seed centroids and trained k-means centroids (the
    decision rule is centroid-independent for same-cell pairs)."""
    e = emb.select(
        "vec_id", similarity.as_double_array(F.col("embedding")).alias("v")
    )
    copies = e.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(1.001)).alias("v"),
    )
    base = e.unionByName(copies)
    planted = {r.vec_id + 1000000 for r in e.filter(F.col("vec_id") % 9 == 0).select("vec_id").collect()}
    n_base = e.count()

    for cents in (
        None,
        similarity.ivf_kmeans_centroids(base, k=4, iters=2, id_col="vec_id", vec_col="v"),
    ):
        surv = dedup.semantic_cluster_survivors(
            base, id_col="vec_id", vec_col="v", k=4, threshold=0.999,
            centroids=cents,
        )
        ids = {r.vec_id for r in surv.select("vec_id").collect()}
        # every planted copy has a lower-id twin at cosine ~1.0 in (at
        # worst) the same cell: a scaled vector sits on the same ray, so
        # nearest-centroid by L2 can only differ on near-ties — with
        # threshold 0.999 every caught copy is dropped, and no original
        # loses its own slot to a copy (copies have HIGHER ids).
        assert ids <= {r.vec_id for r in base.select("vec_id").collect()}
        dropped = planted - ids
        assert len(dropped) >= len(planted) - 1, f"copies not dropped: {planted - dropped}"
        # originals all survive unless they are near-dups of each other
        surviving_originals = ids & {r.vec_id for r in e.select("vec_id").collect()}
        assert len(surviving_originals) >= n_base - 2


def test_unigram_lm_scores_flag_gibberish(spark):
    """Cross-entropy under the self-trained unigram LM must rank a
    repeated-common-token doc as MORE probable (lower ce) than a doc
    of corpus-unique tokens — the separation the quality gate uses."""
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    rows.append((100, "zqx1 zqx2 zqx3 zqx4 zqx5 zqx6 zqx7 zqx8 zqx9"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lm = T.unigram_logprobs(T.unigram_counts(df, "text"), alpha=0.5)
    ce = {r.doc_id: r.ce_nats for r in T.doc_cross_entropy(df, lm).collect()}
    assert ce[100] > ce[0] + 1.0  # rare-token doc clearly worse
    # all tokens seen in training => every doc gets a finite score
    assert all(math.isfinite(v) for v in ce.values())


def test_unigram_lm_smoothing_scores_unseen_tokens(spark):
    """Score a doc containing tokens ABSENT from the training corpus:
    join the doc's tokens against the smoothed LM extended with the
    unseen-mass row (c=0) — the add-alpha floor keeps it finite."""
    train = spark.createDataFrame(
        [(1, "a b c a b a")], "doc_id long, text string"
    )
    counts = T.unigram_counts(train, "text")
    lm = T.unigram_logprobs(counts, alpha=0.5)
    # unseen logprob = ln(alpha / (N + alpha*V)): N=6, V=3 -> ln(0.5/7.5)
    import math as m

    floor_lp = m.log(0.5 / 7.5)
    score_df = spark.createDataFrame([(2, "a zz yy")], "doc_id long, text string")
    tok = score_df.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("token"))
    scored = (
        tok.join(F.broadcast(lm), "token", "left")
        .withColumn("lp", F.coalesce(F.col("lp"), F.lit(floor_lp)))
        .groupBy("doc_id")
        .agg((-F.avg("lp")).alias("ce_nats"))
    )
    [row] = scored.collect()
    # a: ln(3.5/7.5); zz, yy: floor
    expect = -(m.log(3.5 / 7.5) + 2 * floor_lp) / 3.0
    assert abs(row.ce_nats - expect) < 1e-9


def test_winnow_table_matches_column_expression(spark, docs):
    """The relational (posexplode + lead + windowed-min) fingerprint
    table must produce EXACTLY the (id, fp) set of the specification
    Column form text.winnow_fingerprints — including short-doc edges
    (< k tokens -> empty, < w hashes -> global min)."""
    edge = spark.createDataFrame(
        [(9000001, "a b"), (9000002, "a b c d e"), (9000003, "a b c d e f g"),
         (9000004, "x " * 30)],
        "doc_id long, text string",
    ).select("doc_id", F.trim("text").alias("text"))
    corpus = docs.select("doc_id", "text").unionByName(edge)
    rel = {
        (r.sid, r.fp)
        for r in dedup.winnow_fingerprint_table(corpus, "doc_id", "text", k=5, w=4).collect()
    }
    col = {
        (r.doc_id, r.fp)
        for r in corpus.select(
            "doc_id", F.explode(T.winnow_fingerprints("text", 5, 4)).alias("fp")
        ).collect()
    }
    assert rel == col


def test_ivf_index_build_search_prunes_partitions(spark, emb, tmp_path):
    """The persisted IVF index must (a) return the same top-k as the
    in-memory IVF path on the same centroids, and (b) push the probed
    cells into the vector scan as PartitionFilters so non-candidate
    cell directories are never read."""
    idx = str(tmp_path / "ivf_index")
    cents = similarity.ivf_index_build(
        emb, idx, k=8, iters=2, id_col="vec_id", vec_col="embedding"
    )
    queries = emb.filter(F.col("vec_id").isin([0, 7, 23])).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = similarity.ivf_index_search(
        spark, idx, queries, k=5, probes=2, id_col="vec_id"
    )
    want = similarity.ivf_topk_for_queries(
        emb, queries, k=5, n_centroids=8, probes=2, centroids=cents
    )
    g = sorted((r.qid, r.vec_id, r.score) for r in got.collect())
    w = sorted((r.qid, r.vec_id, r.score) for r in want.collect())
    assert g == w and len(g) == 15

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:2000]
    # and the pruned scan must list fewer than all 8 cell directories
    probed = {r[0] for r in
              spark.read.parquet(f"{idx}/vectors").select("cell").distinct().collect()}
    assert len(probed) == 8  # index covers all cells...
    searched = {r.cell for r in
                spark.read.parquet(f"{idx}/vectors")
                .join(got.select(F.col("vec_id").alias("vid")).distinct(),
                      F.col("vec_id") == F.col("vid"))
                .select("cell").distinct().collect()}
    assert len(searched) < 8  # ...but the search touched a strict subset


def test_cli_index_build_and_search(spark, tmp_path):
    """index-build writes a cell-partitioned index + centroids table;
    index-search reads only probed cells and writes top-k parquet."""
    from activedatawarehouseprototype_spark.cli import main

    embp = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "hits")
    assert main(["index-build", "--input", embp, "--index", idx,
                 "--k", "4", "--iters", "1"]) == 0
    import os
    cells = [d for d in os.listdir(f"{idx}/vectors") if d.startswith("cell=")]
    assert len(cells) == 4
    assert main(["index-search", "--index", idx, "--queries", embp,
                 "--output", out, "--k", "3", "--probes", "1"]) == 0
    hits = spark.read.parquet(out)
    assert set(hits.columns) == {"qid", "vec_id", "score"}
    n_q = spark.read.parquet(embp).count()
    per_q = hits.groupBy("qid").count().collect()
    assert len(per_q) == n_q and all(r["count"] <= 3 for r in per_q)


def test_cli_score_subcommand(spark, tmp_path):
    """score writes per-doc quality + LM signals with a drop reason."""
    from activedatawarehouseprototype_spark.cli import main

    docs = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "scores")
    assert main(["score", "--input", docs, "--output", out]) == 0
    scored = spark.read.parquet(out)
    assert set(scored.columns) == {
        "doc_id", "n_tokens", "quality", "lang_guess", "drop_reason",
        "lm_ce_nats",
    }
    n = spark.read.parquet(docs).count()
    assert scored.count() == n
    assert scored.filter(F.col("lm_ce_nats").isNotNull()).count() == n
    assert scored.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0


def test_shingle_table_matches_column_expression(spark, docs):
    """The relational shingle table must equal the specification
    Column form explode(array_distinct(word_ngrams)) — including
    short-doc edges (< n tokens -> no shingles)."""
    from activedatawarehouseprototype_spark.operators.text import word_ngrams

    edge = spark.createDataFrame(
        [(9000001, "a b"), (9000002, "a b c"), (9000003, "a b c d e f")],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(edge)
    rel = {
        (r.sid, r.shingle)
        for r in dedup.shingle_table(corpus, "doc_id", "text", n=3).collect()
    }
    col = {
        (r.doc_id, r.g)
        for r in corpus.select(
            "doc_id",
            F.explode(F.array_distinct(word_ngrams("text", 3))).alias("g"),
        ).collect()
    }
    assert rel == col


def test_ivf_index_append_searchable(spark, emb, tmp_path):
    """Appended vectors join their assigned cell's partition and are
    found by a subsequent search without rebuilding the index."""
    idx = str(tmp_path / "idx_app")
    similarity.ivf_index_build(
        emb, idx, k=4, iters=1, id_col="vec_id", vec_col="embedding"
    )
    n0 = spark.read.parquet(f"{idx}/vectors").count()
    # append near-copies of vectors 0..4 under offset ids
    newv = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.transform(
            similarity.as_double_array(F.col("embedding")),
            lambda x: x * F.lit(1.001),
        ).alias("embedding"),
    )
    similarity.ivf_index_append(spark, idx, newv)
    assert spark.read.parquet(f"{idx}/vectors").count() == n0 + 5
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    hits = similarity.ivf_index_search(spark, idx, q, k=3, probes=1)
    got = {r.vec_id for r in hits.collect()}
    # the scaled copy of vector 0 has cosine 1.0 -> must be the top hit
    top = hits.orderBy(F.col("score").desc()).first()
    assert top.vec_id == 500000 and abs(top.score - 1.0) < 1e-6, got


def test_resample_ffill_gap_semantics(spark):
    """Explicit gap check: buckets between observations carry the
    previous value with observed=false; the first bucket starts at the
    key's first observation (no leading nulls); same-bucket ties
    resolve to the later (ts, tie) row."""
    import datetime as dt

    from activedatawarehouseprototype_spark.operators.timeseries import (
        resample_ffill,
    )

    day = 86_400_000
    t0 = dt.datetime(2024, 1, 1)

    def ts(d, s=0):
        return t0 + dt.timedelta(days=d, seconds=s)

    rows = [
        (1, ts(0), 10.0, 1),
        (1, ts(0, 60), 11.0, 2),   # later same day -> wins bucket 0
        (1, ts(3), 40.0, 3),       # days 1-2 are gaps
        (2, ts(5), 99.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, value double, event_id int"
    )
    got = {
        (r.user_id, r.bucket_ms, r.value, r.observed)
        for r in resample_ffill(
            df, "user_id", "ts", "value", step_ms=day, tie_col="event_id"
        ).collect()
    }
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert got == {
        (1, base + 0 * day, 11.0, True),
        (1, base + 1 * day, 11.0, False),
        (1, base + 2 * day, 11.0, False),
        (1, base + 3 * day, 40.0, True),
        (2, base + 5 * day, 99.0, True),
    }


def test_alert_burst_suppression_semantics(spark):
    """Explicit burst check: firings 0s/10s/20s chain into one burst
    (two suppressed); a firing a full cooldown later starts a new
    burst; keys are independent."""
    import datetime as dt

    from activedatawarehouseprototype_spark.operators.cooldown import (
        suppress_alert_bursts,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        (1, ts(0), 1), (1, ts(10), 2), (1, ts(20), 3),  # one burst
        (1, ts(80), 4),                                  # new burst (>=60s)
        (2, ts(5), 5),                                   # other key
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, eid int")
    got = {
        (r.k, r.alert_ts_ms, r.n_suppressed, r.burst_span_ms)
        for r in suppress_alert_bursts(
            df, ["k"], "ts", cooldown_ms=60_000, tie_col="eid"
        ).collect()
    }
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert got == {
        (1, base, 2, 20_000),
        (1, base + 80_000, 0, 0),
        (2, base + 5_000, 0, 0),
    }


def test_binary_near_dup_pairs_catches_variants(spark):
    """Byte-level near-dup: an identical blob, a prefix-stamped
    variant, and an appended variant all pair with the original; an
    unrelated blob does not."""
    import os

    from activedatawarehouseprototype_spark.operators.multimodal import (
        binary_near_dup_pairs,
    )

    base = bytes(range(256)) * 4          # 1 KiB deterministic "asset"
    other = bytes(reversed(range(256))) * 4
    rows = [
        (1, bytearray(base)),
        (2, bytearray(base)),                      # identical
        (3, bytearray(b"HDR0" + base)),            # re-containered
        (4, bytearray(base + b"\x00\x01\x02\x03")),  # appended
        (5, bytearray(other)),                     # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, blob binary")
    pairs = {
        (r.id_a, r.id_b): r.containment
        for r in binary_near_dup_pairs(df, "doc_id", "blob").collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.9
    assert (1, 4) in pairs and pairs[(1, 4)] >= 0.9
    assert not any(5 in p for p in pairs)


def test_ivf_index_compact_preserves_search(spark, emb, tmp_path):
    import os

    from activedatawarehouseprototype_spark.operators import similarity

    idx = str(tmp_path / "ivfc")
    similarity.ivf_index_build(emb, idx, k=4, iters=1)
    newv = emb.limit(40).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    for _ in range(2):
        similarity.ivf_index_append(spark, idx, newv.limit(20))
    q = emb.limit(3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    before = {
        (r["qid"], r["vec_id"], r["score"])
        for r in similarity.ivf_index_search(spark, idx, q, k=5).collect()
    }

    def n_files():
        return sum(
            1
            for root, _, files in os.walk(f"{idx}/vectors")
            for f in files
            if f.endswith(".parquet")
        )

    n_before = n_files()
    similarity.ivf_index_compact(spark, idx)
    assert n_files() < n_before
    after = {
        (r["qid"], r["vec_id"], r["score"])
        for r in similarity.ivf_index_search(spark, idx, q, k=5).collect()
    }
    assert after == before


def test_repeated_span_dedup_semantics(spark):
    # doc 1 and 2 share an exact 8-word span (one chunk); doc 3 is
    # unrelated; doc 4 is shorter than one chunk (kept verbatim).
    span = "a b c d e f g h"
    rows = [
        (1, span + " one two three four five six seven eight tail1"),
        (2, span + " x1 x2 x3 x4 x5 x6 x7 x8"),
        (3, "q r s t u v w x y z"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in dedup.repeated_span_dedup(
            df, "doc_id", "text", chunk_words=8, min_docs=2
        ).collect()
    }
    # doc1: 2 full chunks + 1-word tail; shared chunk removed
    assert out[1].n_chunks == 2 and out[1].chunks_removed == 1
    assert out[1].clean_text == "one two three four five six seven eight tail1"
    # doc2: both chunks present, shared one removed
    assert out[2].n_chunks == 2 and out[2].chunks_removed == 1
    assert out[2].clean_text == "x1 x2 x3 x4 x5 x6 x7 x8"
    # doc3: 1 chunk + tail, nothing removed, text round-trips
    assert out[3].chunks_removed == 0 and out[3].clean_text == rows[2][1]
    # doc4: zero chunks, tail-only passthrough
    assert out[4].n_chunks == 0 and out[4].clean_text == "short doc"
    # intra-doc repetition alone does NOT trigger removal (min_docs
    # counts distinct documents)
    rep = spark.createDataFrame(
        [(10, span + " " + span), (11, "k l m n o p q u")], ["doc_id", "text"]
    )
    out2 = {
        r.doc_id: r
        for r in dedup.repeated_span_dedup(
            rep, "doc_id", "text", chunk_words=8, min_docs=2
        ).collect()
    }
    assert out2[10].chunks_removed == 0


def test_repeated_span_dedup_hash_equivalence(spark, docs):
    d = docs.select("doc_id", "text")
    a = (
        dedup.repeated_span_dedup(d, "doc_id", "text", hash_chunks=False)
        .orderBy("doc_id")
        .collect()
    )
    b = (
        dedup.repeated_span_dedup(d, "doc_id", "text", hash_chunks=True)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b
    # and the fixture corpus genuinely contains cross-doc spans
    assert sum(r.chunks_removed for r in a) > 0


def test_dsir_weights_favor_target_domain(spark, docs):
    """Targeting the 'en' slice, mean log-weight of en docs must exceed
    mean log-weight of every other language (the DSIR selection
    property), and weights must be finite."""
    import math as _math

    d = docs.select("doc_id", "text", "lang")
    w = T.dsir_log_weights(
        d.select("doc_id", "text"),
        d.filter(F.col("lang") == "en").select("doc_id", "text"),
    )
    per_lang = {
        r.lang: r.mw
        for r in w.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.avg("log_weight").alias("mw"))
        .collect()
    }
    assert all(_math.isfinite(v) for v in per_lang.values())
    en = per_lang.pop("en")
    assert en > max(per_lang.values()), per_lang


def test_bigram_interp_scores_edge_docs(spark):
    """Zero-bigram docs (single token) come back with n_bigrams=0 and
    avg_lp=0.0; self-trained scoring is finite even for singletons."""
    d = spark.createDataFrame(
        [(1, "only"), (2, "two words"), (3, "a b a b a")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in T.bigram_interp_scores(d, d).collect()}
    assert out[1].n_bigrams == 0 and out[1].avg_lp == 0.0
    assert out[2].n_bigrams == 1
    assert out[3].n_bigrams == 4
    import math as _math

    assert all(_math.isfinite(r.avg_lp) for r in out.values())


def test_resize_blob_deterministic_and_one_to_one(spark, docs):
    """resize_blob: 1 row in -> 1 row out, content is exact
    every-factor-th-byte decimation, lengths recorded."""
    blobs = multimodal.attach_blobs(docs.limit(8))
    out = {r.doc_id: r for r in multimodal.resize_blob(blobs, factor=4).collect()}
    src = {r.doc_id: bytes(r.content) for r in blobs.collect()}
    assert set(out) == set(src)
    for did, b in src.items():
        r = out[did]
        assert bytes(r.content) == b[::4]
        assert r.orig_len == len(b) and r.new_len == len(b[::4])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.resize_blob(blobs, factor=0)


def test_weighted_bernoulli_sample_nests_and_bounds(spark, docs):
    """Scaled weights nest (0.5w sample ⊂ w sample — same hash coin)
    and weight 0 / 1 are the empty / full corpus."""
    from pyspark.sql import functions as F

    from activedatawarehouseprototype_spark.operators.sampling import (
        weighted_bernoulli_sample,
    )

    d = docs.select("doc_id", "n_chars")
    w = F.col("n_chars") / F.lit(600.0)
    full = {r.doc_id for r in weighted_bernoulli_sample(d, w, ["doc_id"]).collect()}
    half = {
        r.doc_id
        for r in weighted_bernoulli_sample(d, w / 2, ["doc_id"]).collect()
    }
    assert half <= full
    assert weighted_bernoulli_sample(d, F.lit(0.0), ["doc_id"]).count() == 0
    assert weighted_bernoulli_sample(d, F.lit(1.0), ["doc_id"]).count() == d.count()


def test_resize_blob_null_content_survives(spark):
    """Round-5 ADVICE (medium): a NULL content cell is the normal
    parquet shape for media blobs — resize must map it to an empty
    thumbnail (same guard as byte_stats), not kill the task."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh")), (2, None)],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("content", BinaryType()),
            ]
        ),
    )
    out = {r.doc_id: r for r in multimodal.resize_blob(df, factor=2).collect()}
    assert bytes(out[1].content) == b"aceg"
    assert bytes(out[2].content) == b"" and out[2].orig_len == 0
    assert out[2].new_len == 0


def test_contrastive_pairs_semantics(spark, emb):
    """Planted scaled copies (cos 1.0) must appear as positives; every
    label agrees with its score side; negatives only from the thinned
    residue class."""
    e = emb.select(
        "vec_id", similarity.as_double_array(F.col("embedding")).alias("v")
    )
    scaled = e.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("v", lambda x: x * F.lit(1.5)).alias("v"),
    )
    rows = similarity.contrastive_pairs(
        e.unionByName(scaled), "vec_id", "v", pos_threshold=0.9,
        neg_threshold=0.5, neg_mod=3,
    ).collect()
    planted = {
        (int(r.vec_id), int(r.vec_id) + 1000000)
        for r in e.filter(F.col("vec_id") % 11 == 0).collect()
    }
    pos = {(r.id_a, r.id_b) for r in rows if r.label == 1}
    assert planted <= pos  # same direction => same bucket, cos 1.0
    for r in rows:
        if r.label == 1:
            assert r.score >= 0.9
        else:
            assert r.score < 0.5 and (r.id_a + r.id_b) % 3 == 0
    assert any(r.label == 0 for r in rows)  # hard negatives present


def test_doc_cross_entropy_oov_scoring(spark, docs):
    """Open-vocabulary scoring: with oov_lp, a wholly-gibberish doc
    gets a row and scores HIGHER than fluent in-domain text (the gate
    property the closed-vocab form inverts by dropping OOV tokens)."""
    lm_counts = T.unigram_counts(docs)
    lm = T.unigram_logprobs(lm_counts)
    oov = T.unigram_oov_logprob(lm_counts)
    in_domain = docs.limit(3).select("doc_id", "text")
    gib = spark.createDataFrame(
        [(999001, "zzq1 zzq2 zzq3 zzq4 zzq5 zzq6 zzq7 zzq8")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in T.doc_cross_entropy(
            in_domain.unionByName(gib), lm, oov_lp=oov
        ).collect()
    }
    assert 999001 in out and out[999001].n_tokens == 8
    gib_ce = out[999001].ce_nats
    assert all(
        out[r.doc_id].ce_nats < gib_ce for r in in_domain.collect()
    )
    # closed-vocab form: the gibberish doc vanishes (documented)
    closed = T.doc_cross_entropy(gib, lm).collect()
    assert closed == []


def test_asof_join_null_valued_match_not_stale(spark):
    """The latest matching right row wins even when its value is NULL —
    carrying columns independently would skip it and return a STALE
    older value (DuckDB ASOF JOIN semantics: match the row, return its
    NULL); multi-column carries must come from ONE right row."""
    from activedatawarehouseprototype_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 30)], "k bigint, ts bigint")
    right = spark.createDataFrame(
        [(1, 10, 5.0, "a"), (1, 20, None, "b")],
        "k bigint, ts bigint, v double, tag string",
    )
    row = asof_join(left, right, "k", "ts", ["v", "tag"]).collect()[0]
    assert row.v_asof is None and row.tag_asof == "b"
    # no preceding right row -> NULLs
    left2 = spark.createDataFrame([(2, 5)], "k bigint, ts bigint")
    row2 = asof_join(left2, right.filter("k = 1"), "k", "ts", ["v", "tag"]).collect()
    assert row2 == [] or (row2[0].v_asof is None and row2[0].tag_asof is None)


def test_snapshot_diff_classes_and_null_safety(spark):
    from activedatawarehouseprototype_spark.operators.warehouse import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], "id long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "C"), (5, "e")], "id long, v string"
    )
    got = {r.id: r.op for r in snapshot_diff(old, new, ["id"]).collect()}
    # NULL == NULL must be 'unchanged', not 'changed'
    assert got == {
        1: "unchanged",
        2: "unchanged",
        3: "changed",
        4: "removed",
        5: "added",
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_diff(old, new, [])


def test_group_quota_cap_exact_and_layout_independent(spark, docs):
    from activedatawarehouseprototype_spark.operators.sampling import (
        group_quota_cap,
    )

    capped = group_quota_cap(docs, ["source"], ["doc_id"], max_per_group=7)
    per = {r.source: r.n for r in capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r.source: r.n for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for s, n in per.items():
        assert n == min(7, sizes[s])
    # survivor set is a pure function of the key — partitioning must not matter
    a = {r.doc_id for r in capped.collect()}
    b = {
        r.doc_id
        for r in group_quota_cap(
            docs.repartition(13), ["source"], ["doc_id"], max_per_group=7
        ).collect()
    }
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError):
        group_quota_cap(docs, ["source"], ["doc_id"], max_per_group=0)


def test_rolling_zscore_hand_computed(spark):
    """Baseline excludes the current row; NULL until min_periods; a
    planted spike after a flat-ish baseline flags as anomaly."""
    import math

    from activedatawarehouseprototype_spark.operators.timeseries import (
        rolling_zscore,
    )

    rows = [(1, d, x) for d, x in enumerate([10.0, 12.0, 11.0, 10.5, 60.0])]
    df = spark.createDataFrame(rows, "k long, t long, x double")
    out = {r.t: r for r in rolling_zscore(
        df, "k", "t", "x", lookback=7, min_periods=3, round_to=None
    ).collect()}
    assert out[0].zscore is None and out[1].zscore is None
    assert out[2].zscore is None  # only 2 preceding rows < min_periods
    base = [10.0, 12.0, 11.0]
    mu = sum(base) / 3
    sd = math.sqrt(sum((v - mu) ** 2 for v in base) / 2)
    assert math.isclose(out[3].zscore, (10.5 - mu) / sd, rel_tol=1e-12)
    assert out[3].anomaly is False
    assert out[4].anomaly is True  # the spike vs its preceding baseline


def test_interval_overlap_sweep_matches_enumeration(spark):
    """The O(n log n) endpoint sweep must count exactly what the
    naive pair join enumerates — random blocks incl. touching
    endpoints (hi == lo is an overlap under <=) and singletons."""
    import random

    from activedatawarehouseprototype_spark.operators.range_join import (
        interval_overlap_pair_counts,
    )

    rng = random.Random(17)
    rows = []
    for blk in range(6):
        n = [1, 2, 5, 17, 40, 3][blk]
        for i in range(n):
            lo = rng.randrange(0, 50)
            rows.append((blk, i, lo, lo + rng.randrange(0, 12)))
    # plant a touching pair: a.hi == b.lo must count as overlapping
    rows.append((7, 0, 100, 110))
    rows.append((7, 1, 110, 115))
    df = spark.createDataFrame(rows, "blk long, iid long, lo long, hi long")

    got = {
        r.blk: r.n_pairs
        for r in interval_overlap_pair_counts(df, "blk", "lo", "hi").collect()
    }
    by_blk: dict[int, list[tuple[int, int]]] = {}
    for blk, _, lo, hi in rows:
        by_blk.setdefault(blk, []).append((lo, hi))
    want = {}
    for blk, ivs in by_blk.items():
        c = sum(
            1
            for i in range(len(ivs))
            for j in range(i + 1, len(ivs))
            if ivs[i][0] <= ivs[j][1] and ivs[j][0] <= ivs[i][1]
        )
        if c:
            want[blk] = c
    assert got == want
    assert got[7] == 1  # the touching pair


def test_cli_snapshot_diff_pagerank_quota_cap(spark, tmp_path):
    """Round-6 CLI verbs end-to-end: snapshot-diff classifications,
    pagerank node count + mass bound, quota-cap exact cap."""
    from activedatawarehouseprototype_spark.cli import main

    old_p = str(tmp_path / "old.parquet")
    new_p = str(tmp_path / "new.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).write.parquet(old_p)
    spark.createDataFrame(
        [(2, "B"), (3, "c"), (4, "d")], "id long, v string"
    ).write.parquet(new_p)
    diff_out = str(tmp_path / "diff")
    assert main(["snapshot-diff", "--old", old_p, "--new", new_p,
                 "--keys", "id", "--output", diff_out]) == 0
    got = {r.id: r.op for r in spark.read.parquet(diff_out).collect()}
    assert got == {1: "removed", 2: "changed", 3: "unchanged", 4: "added"}

    edges_p = str(tmp_path / "edges.parquet")
    spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, 3, 2.0)],
        "src long, dst long, w double",
    ).write.parquet(edges_p)
    pr_out = str(tmp_path / "ranks")
    assert main(["pagerank", "--edges", edges_p, "--weight-col", "w",
                 "--iters", "2", "--output", pr_out]) == 0
    ranks = {r.node: r.rank for r in spark.read.parquet(pr_out).collect()}
    assert set(ranks) == {1, 2, 3}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # no dangling: mass conserved

    docs_p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "s%d" % (i % 2)) for i in range(30)], "doc_id long, source string"
    ).write.parquet(docs_p)
    cap_out = str(tmp_path / "capped")
    assert main(["quota-cap", "--input", docs_p, "--group-cols", "source",
                 "--key-cols", "doc_id", "--max-per-group", "4",
                 "--output", cap_out]) == 0
    per = (
        spark.read.parquet(cap_out)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert all(r.n == 4 for r in per) and len(per) == 2


def test_prefix_filtered_jaccard_matches_exact(spark, docs):
    """Prefix filtering is an OPTIMIZATION, not an approximation: on
    the real documents table its output must equal
    ngram_jaccard_pairs with NO df cap, at two thresholds."""
    from activedatawarehouseprototype_spark.operators import dedup

    for t in (0.5, 0.7):
        base = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=t, max_doc_freq=None
            ).collect()
        }
        fast = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in dedup.prefix_filtered_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        assert fast == base, f"threshold {t}: {fast ^ base}"
        if t == 0.5:
            # the fixture must actually contain near-dup pairs at 0.5,
            # or the equality above proves nothing
            assert len(base) > 0


def test_prefix_index_much_smaller_and_skew_immune(spark):
    """The scale claims, measured: (a) the prefix index is a fraction
    of the full inverted index; (b) a planted hot boilerplate shingle
    (in EVERY doc) inflates the full index's join candidates
    quadratically but lands in NO prefix at t=0.7 (highest df sorts
    last), yet pair results stay exact."""
    from pyspark.sql import Window as W

    from activedatawarehouseprototype_spark.operators import dedup

    rows = [
        (i, "COMMON BOILER PLATE HEADER " + " ".join(
            f"tok{i}_{j}" for j in range(12)))
        for i in range(60)
    ]
    # two planted near-dups that share most content
    rows.append((100, "COMMON BOILER PLATE HEADER alpha beta gamma delta "
                      "epsilon zeta eta theta iota kappa"))
    rows.append((101, "COMMON BOILER PLATE HEADER alpha beta gamma delta "
                      "epsilon zeta eta theta iota lambda"))
    d = spark.createDataFrame(rows, "doc_id long, text string")

    sh = dedup.shingle_table(d, "doc_id", "text", n=3, max_doc_freq=None)
    full = sh.count()
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    t = 0.7
    pref = (
        sh.join(freq, "shingle")
        .withColumn(
            "_pos",
            F.row_number().over(W.partitionBy("sid").orderBy("df_", "shingle")),
        )
        .join(sizes, "sid")
        .filter(
            F.col("_pos")
            <= F.col("n_sh")
            - F.ceil(F.lit(t) * F.col("n_sh") - F.lit(1e-9))
            + 1
        )
    )
    n_pref = pref.count()
    assert n_pref < 0.5 * full, (n_pref, full)
    # the universal boilerplate shingles (df = all docs) make no prefix
    boiler = pref.join(
        freq.filter(F.col("df_") >= 60).select("shingle"), "shingle", "left_semi"
    ).count()
    assert boiler == 0, "hot shingle leaked into a prefix"
    # and the planted pair still comes out exactly
    got = dedup.prefix_filtered_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=t
    ).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(100, 101)}
