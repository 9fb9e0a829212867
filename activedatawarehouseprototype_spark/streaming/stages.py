"""Optional per-batch stages of the active pipeline: add-ons that read
each micro-batch but neither read nor feed the ECA loop.

``ActivePipeline(stages=[...])`` runs each stage's
``apply(pipe, batch_df, batch_id)`` once per micro-batch, in list order,
on the batch after the ingest quality gate and before the observed
buffer write (a stage's job must not populate the batch Observation
ahead of that write). A stage reads ``pipe.spark``, ``pipe.work_dir``
and ``pipe.ts_col``, and writes only the ``work_dir`` directories named
in its ``dirs``; ``dirs[0]`` is the output that
``ActivePipeline.stage_output(stage)`` reads back. An empty stage list
costs zero jobs.

Every stage is replay-idempotent under foreachBatch's at-least-once
model: per-batch outputs are ``batch=<id>`` overwrite directories, and
carried state is read strictly before the batch being processed.

Required settings are required arguments, so a half-specified stage
cannot be built.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.operators.timeseries import rolling_zscore
from activedatawarehouseprototype_spark.operators.warehouse import (
    commit_swap,
    estimate_percentile,
    incremental_agg_mv,
    recover_swap,
)

# history partials are written one directory per batch; every this many
# batches the strictly-older ones fold into one ``batch=-1`` base, so the
# directory count (and its listing cost at 10^5 micro-batches) stays
# bounded over the stream's life
HISTORY_FOLD_EVERY = 64


def _fold_history(
    spark, path: str, part: DataFrame, batch_id: int, keys: list[str], measure: str
) -> None:
    """Every HISTORY_FOLD_EVERY batches, fold the history partials of
    all batches EXCEPT ``batch_id`` into the ``batch=-1`` base (summing
    ``measure`` per ``keys``) through the crash-safe staging swap: a
    crash leaves either layout, never a mix. This batch's partial
    ``part`` stays separate, so a replay of it is still an idempotent
    overwrite and a read excluding ``batch = id`` is unaffected."""
    if batch_id <= 0 or batch_id % HISTORY_FOLD_EVERY:
        return
    base = (
        spark.read.parquet(path)
        .filter(F.col("batch") != batch_id)
        .groupBy(*keys)
        .agg(F.sum(measure).alias(measure))
    )
    staging = path + ".staging"
    base.coalesce(1).write.mode("overwrite").parquet(os.path.join(staging, "batch=-1"))
    part.write.mode("overwrite").parquet(os.path.join(staging, f"batch={batch_id}"))
    commit_swap(path, staging)


@dataclass
class SummaryMV:
    """Incrementally-maintained per-key summary MV (the active-warehouse
    dashboard table): every batch's events merge into a per-key (n,
    total, mn, mx) aggregate at ``work_dir/summary_mv`` via
    operators/warehouse.py incremental_agg_mv — O(|batch| + |MV|) per
    batch, batch-id idempotent, never rescans history. ``hist_bins`` =
    (lo, hi, n_bins) adds a mergeable histogram column; read
    percentiles with ``percentile`` (error <= one bin width)."""

    key_cols: list[str]
    value_col: str
    hist_bins: tuple[float, float, int] | None = None

    dirs = ("summary_mv",)

    def apply(self, pipe, batch_df: DataFrame, batch_id: int) -> None:
        incremental_agg_mv(
            pipe.spark,
            os.path.join(pipe.work_dir, self.dirs[0]),
            batch_df,
            self.key_cols,
            self.value_col,
            batch_id=batch_id,
            hist_bins=self.hist_bins,
        )

    def percentile(self, pipe, key: dict, p: float) -> float:
        """Approximate percentile of ``value_col`` for one MV key from
        the mergeable histogram (requires ``hist_bins``). ``key`` maps
        each of ``key_cols`` to its value; the read is one filtered MV
        row — control-plane cost."""
        if not self.hist_bins:
            raise ValueError("percentile requires hist_bins")
        df = pipe.stage_output(self)
        for k, v in key.items():
            df = df.filter(F.col(k) == v)
        rows = df.select("hist").collect()
        if not rows:
            raise KeyError(f"no MV row for {key}")
        lo, hi, _ = self.hist_bins
        return estimate_percentile(list(rows[0]["hist"]), p, lo, hi)


@dataclass
class AnomalyStage:
    """Rolling z-score anomaly detection: every batch's events aggregate
    into (key, bucket) partials appended to ``work_dir/anomaly_history``
    (per-batch overwrite dir → replay idempotent), and the batch's
    touched buckets are scored against each key's OWN trailing baseline
    (operators/timeseries.py rolling_zscore over the aggregated history —
    the current bucket never pollutes its own baseline); |z| >
    ``threshold`` rows land in ``work_dir/anomalies/batch=<id>``. This
    is the adaptive-threshold complement to fixed rule limits: "alert
    when this key deviates from its own recent behavior", no per-key
    constant to tune. A bucket split across batches is re-scored with
    its updated total in each touching batch (each batch's anomaly dir
    is a snapshot as-of that batch)."""

    key_cols: list[str]
    value_col: str
    bucket_ms: int = 3_600_000
    lookback: int = 7
    min_periods: int = 3
    threshold: float = 3.0

    dirs = ("anomalies", "anomaly_history")

    def apply(self, pipe, batch_df: DataFrame, batch_id: int) -> None:
        out, history = (os.path.join(pipe.work_dir, d) for d in self.dirs)
        recover_swap(history)
        keys = self.key_cols
        bms = self.bucket_ms
        bucket = (
            F.floor(F.unix_millis(F.col(pipe.ts_col)) / bms) * bms
        ).cast("bigint").alias("bucket_ms")
        part = (
            batch_df.groupBy(*keys, bucket)
            .agg(F.sum(F.col(self.value_col).cast("double")).alias("x"))
            .localCheckpoint()  # one materialization: write + semi-join
        )
        part.write.mode("overwrite").parquet(
            os.path.join(history, f"batch={batch_id}")
        )
        # per-(key, bucket) totals for THIS BATCH'S KEYS ONLY — the
        # baseline only needs the touched keys' history, and without
        # the key prefilter the per-batch window would re-score every
        # key ever seen (O(total stream history) per batch). The
        # `batch` partition column from dir discovery is metadata, not
        # data — drop it via the column selection.
        hist = (
            pipe.spark.read.parquet(history)
            .join(F.broadcast(part.select(*keys).distinct()), keys, "left_semi")
            .groupBy(*keys, "bucket_ms")
            .agg(F.sum("x").alias("x"))
        )
        scored = rolling_zscore(
            hist,
            key_col=keys,
            order_col="bucket_ms",
            value_col="x",
            lookback=self.lookback,
            min_periods=self.min_periods,
            round_to=4,
            threshold=self.threshold,
        )
        flagged = (
            scored.filter(F.col("anomaly"))
            # only buckets THIS batch touched emit now (earlier buckets
            # were scored by their own batches)
            .join(part.select(*keys, "bucket_ms"), [*keys, "bucket_ms"], "left_semi")
            .select(*keys, "bucket_ms", "x", "zscore")
        )
        flagged.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))
        _fold_history(pipe.spark, history, part, batch_id, [*keys, "bucket_ms"], "x")


@dataclass
class DriftGate:
    """Distribution-drift gate: every batch's value histogram (FIXED bin
    edges ``bins`` = (lo, hi, n_bins) — the incremental reference can't
    re-bin) is PSI-scored against the accumulated histogram of all PRIOR
    batches, per ``group_cols`` slice. Scores land in
    ``work_dir/drift/batch=<id>`` with ``drifted`` = psi above
    ``threshold``; history partials in ``work_dir/drift_history``.
    Scoring is skipped while the reference holds < ``min_ref_rows`` (no
    stable baseline yet). This is the batch-level complement of the
    row-level quarantine gate: "the rows are individually fine but the
    DISTRIBUTION moved"."""

    value_col: str
    bins: tuple[float, float, int]
    group_cols: list[str] | None = None
    threshold: float = 0.25
    min_ref_rows: int = 100

    dirs = ("drift", "drift_history")

    def __post_init__(self) -> None:
        lo, hi, n_bins = self.bins
        if not (hi > lo and int(n_bins) > 0):
            raise ValueError(f"drift bins need hi > lo and n_bins > 0, got {self.bins}")

    def _bin(self) -> F.Column:
        lo, hi, bins = self.bins
        width = (float(hi) - float(lo)) / int(bins)
        raw = F.floor((F.col("_v") - F.lit(float(lo))) / F.lit(width))
        return F.least(F.greatest(raw, F.lit(0)), F.lit(int(bins) - 1)).cast("int")

    def apply(self, pipe, batch_df: DataFrame, batch_id: int) -> None:
        """The batch's fixed-bin histogram is written as a history
        partial (per-batch overwrite — replay idempotent), then scored
        against all PRIOR batches (the read excludes this batch's
        partition, so a replay scores identically — under foreachBatch's
        actual replay model, which re-delivers the LATEST batch: epochs
        are sequential, an older batch never replays after newer ones
        have run). Out-of-range values clamp to the edge bins —
        out-of-range mass IS drift signal, not an error. Cost: the heavy
        data is touched by one map-side-combined histogram agg
        (|groups|·|bins| skinny rows); everything after is arithmetic on
        those rows."""
        out, history = (os.path.join(pipe.work_dir, d) for d in self.dirs)
        recover_swap(history)
        groups = list(self.group_cols or [])
        part = (
            batch_df.select(*groups, F.col(self.value_col).cast("double").alias("_v"))
            .filter(F.col("_v").isNotNull())
            .groupBy(*groups, self._bin().alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint()  # one materialization: write + score
        )
        part.write.mode("overwrite").parquet(
            os.path.join(history, f"batch={batch_id}")
        )
        ref = (
            pipe.spark.read.parquet(history)
            .filter(F.col("batch") != batch_id)
            .groupBy(*groups, "bin")
            .agg(F.sum("n").alias("nr"))
        )
        joined = part.select(*groups, "bin", F.col("n").alias("nc")).join(
            ref, [*groups, "bin"], "full_outer"
        )
        tot = joined.groupBy(*groups).agg(
            F.sum(F.coalesce("nr", F.lit(0))).alias("tr"),
            F.sum(F.coalesce("nc", F.lit(0))).alias("tc"),
        )
        jt = (
            joined.join(F.broadcast(tot), groups)
            if groups
            else joined.crossJoin(F.broadcast(tot))
        )
        e = F.lit(1e-6)
        r_p = F.coalesce("nr", F.lit(0)).cast("double") / F.col("tr") + e
        c_p = F.coalesce("nc", F.lit(0)).cast("double") / F.col("tc") + e
        scored = (
            jt.filter((F.col("tr") >= self.min_ref_rows) & (F.col("tc") > 0))
            .groupBy(*groups)
            .agg(
                F.max("tr").cast("bigint").alias("n_ref"),
                F.max("tc").cast("bigint").alias("n_cur"),
                F.round(F.sum((c_p - r_p) * F.log(c_p / r_p)), 6).alias("psi"),
            )
            # a GLOBAL agg (no group cols) over zero surviving rows
            # still emits one all-NULL row — that's "not scorable yet",
            # not a score
            .filter(F.col("n_ref").isNotNull())
            .select(
                *groups,
                "n_ref",
                "n_cur",
                "psi",
                (F.col("psi") > F.lit(float(self.threshold))).alias("drifted"),
            )
        )
        scored.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))
        _fold_history(pipe.spark, history, part, batch_id, [*groups, "bin"], "n")


@dataclass
class CusumGate:
    """CUSUM mean-shift gate: each batch's per-slice MEAN feeds the
    two-sided Page recurrence S± = max(0, S± ± (mean - target) - slack),
    carried across batches in ``work_dir/cusum_state/batch=<id>``
    snapshots, and alarms when either side exceeds ``threshold``. This
    catches the drift the PSI gate is least sensitive to — a SMALL mean
    shift persisting over many batches (PSI needs the histogram to
    visibly move; CUSUM integrates the bias). Scores land in
    ``work_dir/cusum/batch=<id>``."""

    value_col: str
    target: float
    slack: float = 0.0
    threshold: float = 5.0
    group_cols: list[str] | None = None

    dirs = ("cusum", "cusum_state")
    # only batch-1's snapshot is ever read, and an older batch never
    # replays after a newer one ran; snapshots older than this many
    # batches are janitored after a successful write
    STATE_RETAIN = 8

    def apply(self, pipe, batch_df: DataFrame, batch_id: int) -> None:
        """The batch touches the heavy data with ONE skinny mean agg per
        slice; the recurrence update joins that against the latest
        carried state (batch < id — a replay of batch id re-reads the
        same prior state and rescores identically under foreachBatch's
        sequential-epoch replay model). A slice absent from this batch
        keeps its state unchanged (carried forward), so an intermittent
        slice's walk is not reset by quiet batches."""
        out, state_path = (os.path.join(pipe.work_dir, d) for d in self.dirs)
        groups = list(self.group_cols or [])
        cur = (
            batch_df.select(*groups, F.col(self.value_col).cast("double").alias("_v"))
            .filter(F.col("_v").isNotNull())
            .groupBy(*groups)
            .agg(F.avg("_v").alias("_mean"), F.count(F.lit(1)).alias("_n"))
        )
        if os.path.exists(state_path):
            hist = pipe.spark.read.parquet(state_path).filter(F.col("batch") < batch_id)
            latest = hist.groupBy(*groups).agg(
                F.max_by(
                    F.struct("s_pos", "s_neg", "n_batches"), F.col("batch")
                ).alias("_st")
            )
            prior = latest.select(
                *groups,
                F.col("_st.s_pos").alias("_p_pos"),
                F.col("_st.s_neg").alias("_p_neg"),
                F.col("_st.n_batches").alias("_p_n"),
            )
            joined = (
                cur.join(prior, groups, "full_outer") if groups else cur.crossJoin(prior)
            )
        else:
            joined = cur.select(
                "*",
                F.lit(None).cast("double").alias("_p_pos"),
                F.lit(None).cast("double").alias("_p_neg"),
                F.lit(None).cast("long").alias("_p_n"),
            )
        zero = F.lit(0.0)
        p_pos = F.coalesce("_p_pos", zero)
        p_neg = F.coalesce("_p_neg", zero)
        tgt = F.lit(float(self.target))
        slk = F.lit(float(self.slack))
        # a slice with no rows THIS batch carries state forward
        has_cur = F.col("_mean").isNotNull()
        s_pos = F.when(
            has_cur, F.greatest(zero, p_pos + (F.col("_mean") - tgt - slk))
        ).otherwise(p_pos)
        s_neg = F.when(
            has_cur, F.greatest(zero, p_neg + (tgt - slk - F.col("_mean")))
        ).otherwise(p_neg)
        state = joined.select(
            *groups,
            s_pos.alias("s_pos"),
            s_neg.alias("s_neg"),
            (F.coalesce("_p_n", F.lit(0)) + has_cur.cast("long")).alias("n_batches"),
            F.col("_mean").alias("batch_mean"),
            F.coalesce("_n", F.lit(0)).alias("batch_rows"),
        ).localCheckpoint()  # one materialization: state write + score write
        state.select(*groups, "s_pos", "s_neg", "n_batches").write.mode(
            "overwrite"
        ).parquet(os.path.join(state_path, f"batch={batch_id}"))
        thr = F.lit(float(self.threshold))
        state.select(
            *groups,
            "batch_mean",
            "batch_rows",
            "n_batches",
            F.round("s_pos", 9).alias("s_pos"),
            F.round("s_neg", 9).alias("s_neg"),
            ((F.col("s_pos") > thr) | (F.col("s_neg") > thr)).alias("alarm"),
        ).write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))
        horizon = batch_id - self.STATE_RETAIN
        if horizon > 0:
            for d in os.listdir(state_path):
                if d.startswith("batch="):
                    try:
                        b = int(d.split("=", 1)[1])
                    except ValueError:
                        continue
                    if b < horizon:
                        shutil.rmtree(os.path.join(state_path, d), ignore_errors=True)


@dataclass
class MadGate:
    """MAD outlier-burst gate: each batch's per-slice OUTLIER FRACTION —
    rows with |v - center| > z * scale — is scored and alarms past
    ``max_outlier_frac``. The robust third leg of the gate family: PSI
    needs the whole histogram to move, CUSUM integrates a persistent
    mean bias (and a heavy two-sided tail can cancel out of the mean
    entirely); the MAD gate catches the burst of individually-extreme
    rows. center/scale come from a training window
    (operators/robust.py::mad_outlier_stats is the offline fitter).
    Stateless per batch — scores land in ``work_dir/madgate/batch=<id>``
    (per-batch overwrite, replay idempotent by construction)."""

    value_col: str
    center: float
    scale: float
    z: float = 3.0
    max_outlier_frac: float = 0.05
    group_cols: list[str] | None = None

    dirs = ("madgate",)

    def __post_init__(self) -> None:
        # |v - center| > z*0 would flag every non-center row
        if not self.scale > 0:
            raise ValueError(f"MAD scale must be positive, got {self.scale}")

    def apply(self, pipe, batch_df: DataFrame, batch_id: int) -> None:
        groups = list(self.group_cols or [])
        dev = F.abs(F.col(self.value_col).cast("double") - F.lit(float(self.center)))
        cut = F.lit(float(self.z)) * F.lit(float(self.scale))
        scored = (
            batch_df.filter(F.col(self.value_col).isNotNull())
            .groupBy(*groups)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("batch_rows"),
                F.sum((dev > cut).cast("bigint")).cast("bigint").alias("n_outliers"),
            )
            .select(
                *groups,
                "batch_rows",
                "n_outliers",
                (F.col("n_outliers") / F.col("batch_rows")).alias("outlier_frac"),
            )
            .select(
                "*",
                (F.col("outlier_frac") > F.lit(float(self.max_outlier_frac))).alias(
                    "alarm"
                ),
            )
        )
        scored.write.mode("overwrite").parquet(
            os.path.join(pipe.work_dir, self.dirs[0], f"batch={batch_id}")
        )
