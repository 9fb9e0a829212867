"""The active-warehouse pipeline: evaluate the standing rule-queries
over an event stream micro-batch by micro-batch, emit evaluations +
alerts, and close the ECA loop through the rule registry.

Reference topology (SURVEY §3.2): events → DynamicKeyFunction (filter,
fan-out, key) → shuffle → DynamicQueryFunction (buffer, window, agg,
threshold) → alerts + spawned rules. Here each ``foreachBatch``:

1. TTL-sweep the registry (F4/C3).
2. Maintain the shared event buffer — the Spark analogue of the
   reference's per-key ``MapState`` buffer with widest-window eviction
   (DynamicQueryFunction.java:42-51,243-266): a parquet-backed table
   pruned to ``prev_batch_max_event_ts - widest_active_window`` (the
   one-batch lag guarantees a window closing THIS batch still has all
   its events in the readable buffer).
3. Evaluate every ACTIVE rule — wire rules and spawned children alike
   — over the buffer in ONE fanned-out plan (streaming/group_eval.py):
   one buffer scan + one shuffle for all W2/W3 rules — O(#modes)
   scans, not O(#rules), matching the reference's single pass
   (DynamicKeyFunction.java:51-105).
4. Emit evaluation rows (K2 demo stream) and fired alerts (K1):
   - W2/W3 windows emit ONCE, when the event-time high watermark
     (max event ts seen) passes their end — finalized windows, same
     append semantics as the native ``windowed_rule_stream``; a window
     straddling micro-batches waits until it closes instead of
     freezing at its first partial aggregate.
   - W0/W1 rows emit per event; a per-rule high-watermark on
     window_end suppresses re-emission of buffered events (late data
     below it is dropped — the documented event-time upgrade over the
     reference's wall-clock timers).
5. ECA: fired rows of rules with child templates spawn instantiated
   children into the registry (C5-C7) — visible next micro-batch. The
   driver collects only DISTINCT (query_id, key) pairs, capped at
   ``spawn_collect_cap`` — a rule firing on millions of keys cannot
   OOM the driver (the reference throttles per event,
   KafkaSender.java:65-79).

Scale notes: the driver touches only rules and fired keys (control
plane). Events flow scan → fan-out → one shared shuffle; the buffer is
columnar parquet, partition-prunable by ts; at cluster scale the
buffer table becomes Delta/Iceberg with retention, same code shape.
"""

from __future__ import annotations

import dataclasses
import json
import logging
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.rules.compiler import (  # noqa: F401
    evaluate_rule,  # not called here; perfbench/streams.py patches this name
    window_mode,
)
from activedatawarehouseprototype_spark.rules.model import (
    LimitOperatorType,
    Rule,
    RuleState,
    WindowFilterRule,
)
from activedatawarehouseprototype_spark.rules.snowflake import SnowflakeIdWorker
from activedatawarehouseprototype_spark.session import local_rows_df
from activedatawarehouseprototype_spark.streaming.eca import (
    SpawnThrottle,
    instantiate_child,
    parse_composite_key,
)
from activedatawarehouseprototype_spark.streaming.group_eval import (
    evaluate_rules_grouped,
    validate_rule_fields,
)
from activedatawarehouseprototype_spark.streaming.registry import RuleRegistry

_log = logging.getLogger(__name__)


def _now_ms() -> int:
    return time.time_ns() // 1_000_000


@dataclass
class ActivePipeline:
    spark: SparkSession
    registry: RuleRegistry
    ts_col: str = "ts"
    work_dir: str | None = None
    # S1/S3 analogue: rule ingestion behind the RuleSource seam
    # (sources/rule_source.py) — a watched directory here, a Kafka
    # consumer in a real deployment; applied at the start of each
    # micro-batch, so rules register mid-stream without restart.
    # ``rules_dir`` is sugar for rule_source=DirectoryRuleSource(dir).
    rules_dir: str | None = None
    rule_source: "RuleSource | None" = None
    throttle: SpawnThrottle = dc_field(default_factory=SpawnThrottle)
    id_worker: SnowflakeIdWorker = dc_field(default_factory=SnowflakeIdWorker)
    # max DISTINCT (query_id, key) spawn triggers collected per batch —
    # the driver-OOM guard for spawning rules that fire on huge key sets
    spawn_collect_cap: int = 10_000
    # K3 latency side-output (DynamicQueryFunction.java:81): when the
    # batch carries this column, each event's ``latency_ms = now -
    # process_ts`` is appended to ``latency_path`` and avg/max land in
    # metrics via df.observe (no extra job — piggybacks the buffer write).
    process_ts_col: str = "processTime"
    # allowed lateness (the ``withWatermark`` delay of this foreachBatch
    # engine): W2/W3 windows close only when the event-time high
    # watermark passes window_end + lateness_ms, so out-of-order events
    # up to this far behind the frontier still land in their window.
    # Size it to the source's disorder bound (e.g. out_of_order_events'
    # max_delay_ms); 0 = close windows at the frontier.
    lateness_ms: int = 0
    # optional incrementally-maintained summary MV (active-warehouse
    # dashboard table): when both are set, every batch's events also
    # merge into a per-key (n, total, mn, mx) aggregate at
    # ``work_dir/summary_mv`` via operators/warehouse.py
    # incremental_agg_mv — O(|batch| + |MV|) per batch, batch-id
    # idempotent, never rescans history. Read it back with
    # ``summary_mv()``.
    mv_key_cols: "list[str] | None" = None
    mv_value_col: str | None = None
    # optional mergeable histogram column on the summary MV —
    # (lo, hi, n_bins); read percentiles with
    # warehouse.estimate_percentile (error <= one bin width)
    mv_hist_bins: "tuple[float, float, int] | None" = None
    # two-phase salted aggregation for hot composite keys (power-law
    # key skew): spreads each (rule, key, window) group over N salts
    # before the final merge. None = plain single-stage agg.
    salt_buckets: int | None = None
    # event-time partition granularity of the on-disk buffer: events
    # land in hour directories (``_bucket=<floor(ts_ms / bucket_ms)>``)
    # so widest-window retention prunes whole FILES via partition
    # pruning instead of filtering rows out of every live footer — at
    # 100 TB the read-side retention filter must not scan expired data.
    buffer_bucket_ms: int = 3_600_000
    # alert storm control: when set, at most one alert per (query_id,
    # key) is EMITTED per cooldown window — re-firings inside the
    # window are counted (metrics["alerts_suppressed"]) but not
    # written. Durable: the last-emission clock is a tiny parquet
    # state table under alerts/, merged per batch (O(|fired keys|)),
    # so the guarantee holds across batches AND restarts. Within one
    # batch the first firing per key wins (micro-batches are far
    # shorter than any sensible cooldown).
    alert_cooldown_ms: int | None = None
    # ingest-side quality gate (optional): declarative row-level
    # constraints (operators/quality.Constraint) applied to every
    # batch BEFORE buffering/evaluation; violating rows land in
    # ``work_dir/quarantine`` with per-row blame and are counted in
    # metrics["events_quarantined"] — bad telemetry cannot poison
    # window aggregates or the summary MV.
    ingest_constraints: "list | None" = None
    # CDC-maintained ENRICHMENT join MV (optional): names a column of
    # the evaluations frame (e.g. "query_id" or "key"). Every batch's
    # emitted evaluations append as the LEFT delta of an incrementally
    # maintained inner-join MV against a dimension table seeded/updated
    # via ``update_enrich_dim`` — the active-warehouse "alerts joined
    # with rule/entity metadata" table. A dimension UPDATE retracts and
    # reapplies the affected MV rows (PAST evaluations included)
    # through the merge_upsert_cdc changelog — never a full recompute.
    # Read it back with ``enriched()``. Exactly-once: left appends
    # carry the batch-id marker (incremental_join_mv), dim updates are
    # idempotent overwrite commits (apply_cdc_to_join_mv).
    enrich_on: str | None = None
    # rolling z-score anomaly detection (optional): when
    # anomaly_key_cols + anomaly_value_col are set, every batch's
    # events aggregate into (key, bucket) partials appended to
    # ``work_dir/anomaly_history`` (per-batch overwrite dir → replay
    # idempotent), and the batch's touched buckets are scored against
    # each key's OWN trailing baseline (operators/timeseries.py
    # rolling_zscore over the aggregated history — the current bucket
    # never pollutes its own baseline); |z| > anomaly_threshold rows
    # land in ``work_dir/anomalies/batch=<id>``. This is the adaptive-
    # threshold complement to fixed rule limits: "alert when this key
    # deviates from its own recent behavior", no per-key constant to
    # tune. A bucket split across batches is re-scored with its
    # updated total in each touching batch (each batch's anomaly dir
    # is a snapshot as-of that batch). Read back with ``anomalies()``.
    anomaly_key_cols: "list[str] | None" = None
    anomaly_value_col: str | None = None
    anomaly_bucket_ms: int = 3_600_000
    anomaly_lookback: int = 7
    anomaly_min_periods: int = 3
    anomaly_threshold: float = 3.0
    # distribution-drift gate (optional): when drift_value_col +
    # drift_bins are set, every batch's value histogram (FIXED bin
    # edges — the incremental reference can't re-bin) is PSI-scored
    # against the accumulated history of all PRIOR batches, per
    # drift_group_cols slice. Scores land in ``work_dir/drift/
    # batch=<id>`` (per-batch overwrite — replay idempotent, same
    # shape as the anomaly/quarantine writes); history partials in
    # ``work_dir/drift_history``. Scoring is skipped while the
    # reference holds < drift_min_ref_rows (no stable baseline yet).
    # This is the batch-level complement of the row-level quarantine
    # gate: "the rows are individually fine but the DISTRIBUTION
    # moved" — read back with ``drift_scores()``.
    drift_value_col: str | None = None
    drift_bins: "tuple[float, float, int] | None" = None  # (lo, hi, n_bins)
    drift_group_cols: "list[str] | None" = None
    drift_threshold: float = 0.25
    drift_min_ref_rows: int = 100
    # CUSUM mean-shift gate (optional): when cusum_value_col +
    # cusum_target are set, each batch's per-slice MEAN feeds the
    # two-sided Page recurrence S± = max(0, S± ± (mean - target) -
    # slack), carried across batches in ``work_dir/cusum_state/
    # batch=<id>`` snapshots (replay reads the LATEST state with
    # batch < id, so re-delivering a batch rescores identically).
    # Alarms when either side exceeds cusum_threshold. This catches
    # the drift the PSI gate is least sensitive to — a SMALL mean
    # shift persisting over many batches (PSI needs the histogram to
    # visibly move; CUSUM integrates the bias). Scores land in
    # ``work_dir/cusum/batch=<id>`` — read back with
    # ``cusum_scores()``. State snapshots are scalars per slice;
    # snapshots older than the previous few batches are janitored.
    cusum_value_col: str | None = None
    cusum_target: float | None = None
    cusum_slack: float = 0.0
    cusum_threshold: float = 5.0
    cusum_group_cols: "list[str] | None" = None
    # MAD outlier-burst gate (optional): when mad_value_col +
    # mad_center + mad_scale are set, each batch's per-slice OUTLIER
    # FRACTION — rows with |v - center| > z * scale — is scored and
    # alarms past mad_max_outlier_frac. The robust third leg of the
    # gate family: PSI needs the whole histogram to move, CUSUM
    # integrates a persistent mean bias (and a heavy two-sided tail
    # can cancel out of the mean entirely); the MAD gate catches the
    # burst of individually-extreme rows. center/scale come from a
    # training window (operators/robust.py::mad_outlier_stats is the
    # offline fitter). Stateless per batch — scores land in
    # ``work_dir/madgate/batch=<id>`` (per-batch overwrite, replay
    # idempotent by construction) — read back with ``mad_scores()``.
    mad_value_col: str | None = None
    mad_center: float | None = None
    mad_scale: float | None = None
    mad_z: float = 3.0
    mad_max_outlier_frac: float = 0.05
    mad_group_cols: "list[str] | None" = None
    # per-rule emission high-watermark: query_id -> max emitted window_end (ms)
    _emitted_wm: dict[int, int] = dc_field(default_factory=dict)
    _has_buffer: bool = False
    _batch_count: int = 0
    # event-time high watermark: max event ts (ms) across all batches.
    # Retention reads use the PREVIOUS batch's value so a window that
    # closes this batch still has its full event set readable.
    _max_event_ts: int | None = None
    # highest retention horizon ever applied at a PHYSICAL buffer
    # rewrite: events before it are gone from disk, so no later widening
    # of the logical horizon can bring them back. Coverage bookkeeping
    # for the mid-stream-registration gate below.
    _pruned_to: int | None = None
    # rules that were evaluated in the PREVIOUS batch. A rule ENTERING
    # evaluation (first registration, or reactivation after a pause /
    # quarantine) while the buffer no longer covers full stream history
    # gets a registration watermark: windows that started before the
    # coverage horizon would aggregate truncated data, so they must not
    # emit as "final" (the round-3 known wrong-answer edge; re-flooring
    # on REENTRY matters because retention shrinks to the widest ACTIVE
    # window while a wide rule is paused). Emission floor =
    # coverage_start + window_ms - 1 on window_end, i.e. only windows
    # whose full [start, end] span lies inside the readable buffer emit.
    # Maps qid -> the window_ms it was last evaluated with: a C1/C2
    # re-upsert that WIDENS a standing rule's window under the same
    # query_id is a coverage re-entry too (the wider history may be
    # pruned), so it re-floors — membership alone missed that.
    _watching: dict[int, int] = dc_field(default_factory=dict)
    # buffer coverage start for the CURRENT batch's evaluation read:
    # max(logical retention horizon, highest physical prune horizon).
    # None = buffer still covers the whole stream history.
    _cov_start: int | None = None
    # C8 metrics — the reference's numberOfActiveRules gauge
    # (DynamicKeyFunction.java:37-40,179-191) and alertsPerSecond meter
    # (DynamicQueryFunction.java:65-66,199) as driver-side counters.
    metrics: dict = dc_field(
        default_factory=lambda: {
            "batches": 0,
            "events_ingested": 0,
            "alerts_fired": 0,
            "rules_spawned": 0,
            "active_rules": 0,
            "last_batch_seconds": 0.0,
        }
    )

    def __post_init__(self) -> None:
        # half-specified anomaly config silently skipping the stage is
        # the kind of mistake a user discovers only when the anomalies
        # dir never appears — fail at construction instead
        if bool(self.anomaly_key_cols) != bool(self.anomaly_value_col):
            raise ValueError(
                "anomaly detection needs BOTH anomaly_key_cols and "
                "anomaly_value_col (got only one)"
            )
        # same fail-at-construction contract for the drift gate
        if bool(self.drift_value_col) != bool(self.drift_bins):
            raise ValueError(
                "drift detection needs BOTH drift_value_col and "
                "drift_bins=(lo, hi, n_bins) (got only one)"
            )
        if self.drift_bins is not None:
            lo, hi, bins = self.drift_bins
            if not (hi > lo and int(bins) > 0):
                raise ValueError(
                    f"drift_bins needs hi > lo and n_bins > 0, got {self.drift_bins}"
                )
        # same fail-at-construction contract for the CUSUM gate
        if bool(self.cusum_value_col) != (self.cusum_target is not None):
            raise ValueError(
                "CUSUM detection needs BOTH cusum_value_col and "
                "cusum_target (got only one)"
            )
        # ... and for the MAD gate (all three or none; scale > 0
        # because |v - center| > z*0 would flag every non-center row)
        mad_parts = (
            bool(self.mad_value_col),
            self.mad_center is not None,
            self.mad_scale is not None,
        )
        if any(mad_parts) and not all(mad_parts):
            raise ValueError(
                "MAD gate needs ALL of mad_value_col, mad_center and "
                "mad_scale (got a subset)"
            )
        if self.mad_scale is not None and not self.mad_scale > 0:
            raise ValueError(
                f"mad_scale must be positive, got {self.mad_scale}"
            )
        if self.work_dir is None:
            self.work_dir = tempfile.mkdtemp(prefix="adw-pipeline-")
        if self.rule_source is None and self.rules_dir:
            from activedatawarehouseprototype_spark.sources.rule_source import (
                DirectoryRuleSource,
            )

            self.rule_source = DirectoryRuleSource(self.rules_dir)
        os.makedirs(self.alerts_path, exist_ok=True)
        # recovery: reload emission watermarks + detect an existing
        # buffer so a restarted pipeline continues instead of
        # re-emitting everything (the registry persists separately).
        if os.path.exists(self._wm_path):
            import json as _json

            with open(self._wm_path) as f:
                raw = _json.load(f)
            self._max_event_ts = raw.pop("__max_event_ts__", None)
            self._pruned_to = raw.pop("__pruned_to__", None)
            rawwatch = raw.pop("__watching__", [])
            # legacy format was a bare qid list: window unknown -> -1,
            # which forces one conservative re-floor on the next batch
            self._watching = {
                (int(e[0]) if isinstance(e, list) else int(e)): (
                    int(e[1]) if isinstance(e, list) else -1
                )
                for e in rawwatch
            }
            self._emitted_wm = {int(k): v for k, v in raw.items()}
        self._has_buffer = bool(self._buffer_buckets())

    @property
    def _wm_path(self) -> str:
        return os.path.join(self.work_dir, "emitted_watermarks.json")

    def _apply_alert_cooldown(self, fired: DataFrame) -> DataFrame:
        """Storm control for the alert sink (K1): drop firings within
        ``alert_cooldown_ms`` of the key's last EMITTED alert. The
        last-emission clock lives in a parquet state table merged per
        batch (MERGE on (query_id, key) — O(|fired keys|)); within the
        batch the earliest window_end per key wins. ECA spawning still
        sees every firing (spawn throttling is its own mechanism, C7);
        only the alert sink is gated."""
        from pyspark.sql import Window

        from activedatawarehouseprototype_spark.operators.warehouse import (
            merge_upsert,
        )

        state_path = os.path.join(self.alerts_path, "cooldown_state")
        # a crash mid-swap leaves the state only in `.old`; a bare
        # exists() check would skip cooldown filtering for this batch
        # (alert storm through the window) before merge_upsert recovers
        from activedatawarehouseprototype_spark.operators.warehouse import (
            recover_swap,
        )

        recover_swap(state_path)
        cand = fired.withColumn("_ms", F.unix_millis("window_end"))
        if os.path.exists(state_path):
            st = self.spark.read.parquet(state_path)
            cand = (
                cand.join(st, ["query_id", "key"], "left")
                .filter(
                    F.col("last_ms").isNull()
                    | (F.col("_ms") >= F.col("last_ms") + self.alert_cooldown_ms)
                )
                .drop("last_ms")
            )
        w = Window.partitionBy("query_id", "key").orderBy(F.col("_ms").asc())
        emitted = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint()  # must survive the state-table swap below
        )
        n_emitted = emitted.count()
        self.metrics["alerts_suppressed"] = self.metrics.get(
            "alerts_suppressed", 0
        ) + (fired.count() - n_emitted)
        # state commit deliberately DEFERRED to _commit_alert_cooldown,
        # called AFTER the alerts sink write: merging first opened a
        # crash window (state committed, sink write lost) where the
        # replay's candidate failed the cooldown gate and the alert was
        # permanently lost. Write-then-commit turns that window into an
        # idempotent re-write of the same per-batch dir instead.
        self._cooldown_pending = emitted if n_emitted else None
        return emitted.drop("_ms")

    def _commit_alert_cooldown(self) -> None:
        """Merge this batch's emitted-alert clocks into the durable
        cooldown state — the second half of _apply_alert_cooldown,
        ordered after the sink write (see comment there)."""
        from activedatawarehouseprototype_spark.operators.warehouse import (
            merge_upsert,
        )

        emitted = getattr(self, "_cooldown_pending", None)
        if emitted is None:
            return
        self._cooldown_pending = None
        merge_upsert(
            self.spark,
            os.path.join(self.alerts_path, "cooldown_state"),
            emitted.select("query_id", "key", F.col("_ms").alias("last_ms")),
            ["query_id", "key"],
        )

    def _persist_watermarks(self) -> None:
        import json as _json

        tmp = self._wm_path + ".tmp"
        payload = {str(k): v for k, v in self._emitted_wm.items()}
        if self._max_event_ts is not None:
            payload["__max_event_ts__"] = self._max_event_ts
        if self._pruned_to is not None:
            payload["__pruned_to__"] = self._pruned_to
        if self._watching:
            payload["__watching__"] = sorted(
                [int(q), int(w)] for q, w in self._watching.items()
            )
        with open(tmp, "w") as f:
            _json.dump(payload, f)
        os.replace(tmp, self._wm_path)

    # -- paths ---------------------------------------------------------------

    @property
    def buffer_path(self) -> str:
        return os.path.join(self.work_dir, "event_buffer")

    @property
    def alerts_path(self) -> str:
        return os.path.join(self.work_dir, "alerts")

    @property
    def evals_path(self) -> str:
        return os.path.join(self.work_dir, "evaluations")

    @property
    def summary_mv_path(self) -> str:
        return os.path.join(self.work_dir, "summary_mv")

    def summary_mv(self) -> DataFrame:
        """Current state of the incrementally-maintained summary MV
        (requires ``mv_key_cols``/``mv_value_col``)."""
        return self.spark.read.parquet(self.summary_mv_path)

    @property
    def anomaly_history_path(self) -> str:
        return os.path.join(self.work_dir, "anomaly_history")

    @property
    def anomalies_path(self) -> str:
        return os.path.join(self.work_dir, "anomalies")

    def anomalies(self) -> DataFrame:
        """All emitted z-score anomalies (requires
        ``anomaly_key_cols``/``anomaly_value_col``): one row per
        (key, bucket_ms) flagged in some batch, with the batch id as
        the ``batch`` partition column."""
        return self.spark.read.parquet(self.anomalies_path)

    ANOMALY_COMPACT_EVERY = 64

    def _update_anomalies(self, batch_df: DataFrame, batch_id: int) -> None:
        """Per-batch adaptive anomaly stage. History partials live in
        per-batch OVERWRITE dirs (replay idempotent, same shape as the
        buffer/quarantine writes); scoring aggregates the full history
        per (key, bucket) — buckets split across batches score against
        their updated total — and keeps only this batch's touched
        buckets with |z| above the threshold. Like the drift gate's
        history, partials fold into a reserved ``batch=-1`` base every
        ANOMALY_COMPACT_EVERY batches (crash-safe staging swap;
        strictly-older batches only, so the latest-batch replay stays
        an idempotent overwrite) — directory count stays bounded over
        the stream's life."""
        from activedatawarehouseprototype_spark.operators.timeseries import (
            rolling_zscore,
        )
        from activedatawarehouseprototype_spark.operators.warehouse import (
            commit_swap,
            recover_swap,
        )

        recover_swap(self.anomaly_history_path)
        keys = self.anomaly_key_cols
        bms = self.anomaly_bucket_ms
        bucket = (
            F.floor(F.unix_millis(F.col(self.ts_col)) / bms) * bms
        ).cast("bigint").alias("bucket_ms")
        part = (
            batch_df.groupBy(*keys, bucket)
            .agg(
                F.sum(F.col(self.anomaly_value_col).cast("double")).alias("x")
            )
            .localCheckpoint()  # one materialization: write + semi-join
        )
        part.write.mode("overwrite").parquet(
            os.path.join(self.anomaly_history_path, f"batch={batch_id}")
        )
        # per-(key, bucket) totals for THIS BATCH'S KEYS ONLY — the
        # baseline only needs the touched keys' history, and without
        # the key prefilter the per-batch window would re-score every
        # key ever seen (O(total stream history) per batch). The
        # `batch` partition column from dir discovery is metadata, not
        # data — drop it via the column selection.
        hist = (
            self.spark.read.parquet(self.anomaly_history_path)
            .join(
                F.broadcast(part.select(*keys).distinct()), keys, "left_semi"
            )
            .groupBy(*keys, "bucket_ms")
            .agg(F.sum("x").alias("x"))
        )
        scored = rolling_zscore(
            hist,
            key_col=keys,
            order_col="bucket_ms",
            value_col="x",
            lookback=self.anomaly_lookback,
            min_periods=self.anomaly_min_periods,
            round_to=4,
            threshold=self.anomaly_threshold,
        )
        flagged = (
            scored.filter(F.col("anomaly"))
            # only buckets THIS batch touched emit now (earlier buckets
            # were scored by their own batches)
            .join(part.select(*keys, "bucket_ms"), [*keys, "bucket_ms"],
                  "left_semi")
            .select(*keys, "bucket_ms", "x", "zscore")
        )
        flagged.write.mode("overwrite").parquet(
            os.path.join(self.anomalies_path, f"batch={batch_id}")
        )

        if batch_id > 0 and batch_id % self.ANOMALY_COMPACT_EVERY == 0:
            base = (
                self.spark.read.parquet(self.anomaly_history_path)
                .filter(F.col("batch") != batch_id)
                .groupBy(*keys, "bucket_ms")
                .agg(F.sum("x").alias("x"))
            )
            staging = self.anomaly_history_path + ".staging"
            base.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(staging, "batch=-1")
            )
            part.write.mode("overwrite").parquet(
                os.path.join(staging, f"batch={batch_id}")
            )
            commit_swap(self.anomaly_history_path, staging)

    @property
    def drift_history_path(self) -> str:
        return os.path.join(self.work_dir, "drift_history")

    @property
    def drift_path(self) -> str:
        return os.path.join(self.work_dir, "drift")

    @property
    def cusum_state_path(self) -> str:
        return os.path.join(self.work_dir, "cusum_state")

    @property
    def cusum_path(self) -> str:
        return os.path.join(self.work_dir, "cusum")

    def cusum_scores(self) -> DataFrame:
        """Per-batch CUSUM statistics (requires ``cusum_value_col`` +
        ``cusum_target``): one row per (group slice, batch) with the
        carried s_pos/s_neg and ``alarm`` = either side above the
        threshold."""
        return self.spark.read.parquet(self.cusum_path)

    def drift_scores(self) -> DataFrame:
        """Per-batch PSI drift scores (requires ``drift_value_col`` +
        ``drift_bins``): one row per (group slice, batch) once the
        reference held enough mass, with ``drifted`` = psi above the
        threshold. The ``batch`` partition column names the scoring
        batch."""
        return self.spark.read.parquet(self.drift_path)

    @property
    def mad_path(self) -> str:
        return os.path.join(self.work_dir, "madgate")

    def mad_scores(self) -> DataFrame:
        """Per-batch MAD outlier-burst scores (requires the
        mad_value_col/mad_center/mad_scale trio): one row per (group
        slice, batch) with the outlier fraction and ``alarm`` =
        fraction above ``mad_max_outlier_frac``."""
        return self.spark.read.parquet(self.mad_path)

    def _update_mad(self, batch_df: DataFrame, batch_id: int) -> None:
        """Per-batch MAD outlier-burst stage: ONE skinny agg per slice
        counts rows beyond z * scale of the robust center. Stateless —
        the per-batch overwrite makes replay idempotent without any
        carried-state protocol."""
        groups = list(self.mad_group_cols or [])
        dev = F.abs(
            F.col(self.mad_value_col).cast("double")
            - F.lit(float(self.mad_center))
        )
        cut = F.lit(float(self.mad_z)) * F.lit(float(self.mad_scale))
        scored = (
            batch_df.filter(F.col(self.mad_value_col).isNotNull())
            .groupBy(*groups)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("batch_rows"),
                F.sum((dev > cut).cast("bigint"))
                .cast("bigint")
                .alias("n_outliers"),
            )
            .select(
                *groups,
                "batch_rows",
                "n_outliers",
                (F.col("n_outliers") / F.col("batch_rows")).alias(
                    "outlier_frac"
                ),
            )
            .select(
                "*",
                (
                    F.col("outlier_frac")
                    > F.lit(float(self.mad_max_outlier_frac))
                ).alias("alarm"),
            )
        )
        scored.write.mode("overwrite").parquet(
            os.path.join(self.mad_path, f"batch={batch_id}")
        )

    def _drift_bin(self) -> "F.Column":
        lo, hi, bins = self.drift_bins
        width = (float(hi) - float(lo)) / int(bins)
        raw = F.floor((F.col("_v") - F.lit(float(lo))) / F.lit(width))
        return F.least(
            F.greatest(raw, F.lit(0)), F.lit(int(bins) - 1)
        ).cast("int")

    DRIFT_COMPACT_EVERY = 64

    CUSUM_STATE_RETAIN = 8

    def _update_cusum(self, batch_df: DataFrame, batch_id: int) -> None:
        """Per-batch CUSUM mean-shift stage. The batch touches the
        heavy data with ONE skinny mean agg per slice; the recurrence
        update joins that against the latest carried state (batch <
        id — a replay of batch id re-reads the same prior state and
        rescores identically under foreachBatch's sequential-epoch
        replay model). A slice absent from this batch keeps its state
        unchanged (carried forward), so an intermittent slice's walk
        is not reset by quiet batches. State snapshots are scalars per
        slice; snapshots older than CUSUM_STATE_RETAIN batches are
        janitored after a successful write (only batch-1 is ever read,
        and an older batch never replays after a newer one ran)."""
        groups = list(self.cusum_group_cols or [])
        cur = (
            batch_df.select(
                *groups, F.col(self.cusum_value_col).cast("double").alias("_v")
            )
            .filter(F.col("_v").isNotNull())
            .groupBy(*groups)
            .agg(F.avg("_v").alias("_mean"), F.count(F.lit(1)).alias("_n"))
        )
        prior = None
        if os.path.exists(self.cusum_state_path):
            hist = self.spark.read.parquet(self.cusum_state_path).filter(
                F.col("batch") < batch_id
            )
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
        if prior is not None:
            joined = cur.join(prior, groups, "full_outer") if groups else (
                cur.crossJoin(prior)
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
        tgt = F.lit(float(self.cusum_target))
        slk = F.lit(float(self.cusum_slack))
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
            (
                F.coalesce("_p_n", F.lit(0))
                + has_cur.cast("long")
            ).alias("n_batches"),
            F.col("_mean").alias("batch_mean"),
            F.coalesce("_n", F.lit(0)).alias("batch_rows"),
        ).localCheckpoint()  # one materialization: state write + score write
        state.select(*groups, "s_pos", "s_neg", "n_batches").write.mode(
            "overwrite"
        ).parquet(os.path.join(self.cusum_state_path, f"batch={batch_id}"))
        thr = F.lit(float(self.cusum_threshold))
        state.select(
            *groups,
            "batch_mean",
            "batch_rows",
            "n_batches",
            F.round("s_pos", 9).alias("s_pos"),
            F.round("s_neg", 9).alias("s_neg"),
            ((F.col("s_pos") > thr) | (F.col("s_neg") > thr)).alias("alarm"),
        ).write.mode("overwrite").parquet(
            os.path.join(self.cusum_path, f"batch={batch_id}")
        )
        # janitor: drop state snapshots older than the retain horizon
        horizon = batch_id - self.CUSUM_STATE_RETAIN
        if horizon > 0 and os.path.exists(self.cusum_state_path):
            for d in os.listdir(self.cusum_state_path):
                if d.startswith("batch="):
                    try:
                        b = int(d.split("=", 1)[1])
                    except ValueError:
                        continue
                    if b < horizon:
                        shutil.rmtree(
                            os.path.join(self.cusum_state_path, d),
                            ignore_errors=True,
                        )


    def _update_drift(self, batch_df: DataFrame, batch_id: int) -> None:
        """Per-batch distribution-drift stage: the batch's fixed-bin
        value histogram is written as a history partial (per-batch
        overwrite — replay idempotent), then PSI-scored against the
        accumulated histogram of all PRIOR batches (the read excludes
        this batch's partition, so a replay scores identically —
        under foreachBatch's actual replay model, which re-delivers
        the LATEST batch: epochs are sequential, an older batch never
        replays after newer ones have run).
        Out-of-range values clamp to the edge bins — out-of-range mass
        IS drift signal, not an error. Cost: the heavy data is touched
        by one map-side-combined histogram agg (|groups|·|bins| skinny
        rows); everything after is arithmetic on those rows.

        History partials would otherwise accumulate one directory per
        batch FOREVER (rows are skinny but directory listings are
        O(#batches) — the cost that matters at 10^5 micro-batches), so
        every DRIFT_COMPACT_EVERY batches the prior-batch partials fold
        into a single reserved ``batch=-1`` base partition via the
        crash-safe staging swap. Replay stays exact: the base never
        contains the compacting batch itself, and the scoring read's
        ``batch != id`` exclusion is unaffected by folding strictly
        older partials together."""
        from activedatawarehouseprototype_spark.operators.warehouse import (
            commit_swap,
            recover_swap,
        )

        recover_swap(self.drift_history_path)
        groups = list(self.drift_group_cols or [])
        part = (
            batch_df.select(
                *groups, F.col(self.drift_value_col).cast("double").alias("_v")
            )
            .filter(F.col("_v").isNotNull())
            .groupBy(*groups, self._drift_bin().alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint()  # one materialization: write + score
        )
        part.write.mode("overwrite").parquet(
            os.path.join(self.drift_history_path, f"batch={batch_id}")
        )
        ref = (
            self.spark.read.parquet(self.drift_history_path)
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
            jt.filter(
                (F.col("tr") >= self.drift_min_ref_rows) & (F.col("tc") > 0)
            )
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
                (F.col("psi") > F.lit(float(self.drift_threshold))).alias(
                    "drifted"
                ),
            )
        )
        scored.write.mode("overwrite").parquet(
            os.path.join(self.drift_path, f"batch={batch_id}")
        )

        if batch_id > 0 and batch_id % self.DRIFT_COMPACT_EVERY == 0:
            # fold everything EXCEPT this batch into the batch=-1 base
            # (this batch's partial must stay separate so its replay
            # exclusion keeps working); staging + atomic swap so a
            # crash leaves either layout, never a mix
            base = (
                self.spark.read.parquet(self.drift_history_path)
                .filter(F.col("batch") != batch_id)
                .groupBy(*groups, "bin")
                .agg(F.sum("n").alias("n"))
            )
            staging = self.drift_history_path + ".staging"
            base.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(staging, "batch=-1")
            )
            part.write.mode("overwrite").parquet(
                os.path.join(staging, f"batch={batch_id}")
            )
            commit_swap(self.drift_history_path, staging)

    def summary_percentile(self, key: dict, p: float) -> float:
        """Approximate percentile of ``mv_value_col`` for one MV key
        from the mergeable histogram (requires ``mv_hist_bins``; error
        ≤ one bin width). ``key`` maps each of ``mv_key_cols`` to its
        value; the read is one filtered MV row — control-plane cost."""
        if not self.mv_hist_bins:
            raise ValueError("summary_percentile requires mv_hist_bins")
        from activedatawarehouseprototype_spark.operators.warehouse import (
            estimate_percentile,
        )

        df = self.summary_mv()
        for k, v in key.items():
            df = df.filter(F.col(k) == v)
        rows = df.select("hist").collect()
        if not rows:
            raise KeyError(f"no MV row for {key}")
        lo, hi, _ = self.mv_hist_bins
        return estimate_percentile(list(rows[0]["hist"]), p, lo, hi)

    @property
    def latency_path(self) -> str:
        return os.path.join(self.work_dir, "latency")

    @property
    def _enrich_jmv_base(self) -> str:
        return os.path.join(self.work_dir, "enrich", "jmv")

    def update_enrich_dim(self, updates: DataFrame) -> None:
        """Seed or CDC-update the enrichment dimension (requires
        ``enrich_on``; ``updates`` must carry that column plus the
        attribute columns, one row per key).

        First call seeds the dimension — every row is an insert, and
        evaluations already buffered on the left side join in
        immediately (the ``L_old ⋈ ΔR`` delta term). Later calls MERGE
        by key and feed the implied changelog through
        ``apply_cdc_to_join_mv``: MV rows for changed keys — including
        rows produced by PAST batches — are retracted and reapplied
        with the new attributes, cost O(|MV| + |changed|·match), never
        a full join recompute.

        Crash contract (at-least-once retries converge): the changelog
        is classified against the MV's ``/right`` SNAPSHOT — the state
        ``apply_cdc_to_join_mv`` commits LAST — never against the
        already-merged ``dim_table``. Anchoring on the merged table
        would make a retry's changelog empty after a crash between the
        merge and the MV patch, silently freezing ``enriched()`` on
        the old attributes forever; anchored on the snapshot, every
        retry regenerates the same changelog until the final commit
        lands."""
        from activedatawarehouseprototype_spark.operators.versioned import (
            VersionedTable,
        )
        from activedatawarehouseprototype_spark.operators.warehouse import (
            apply_cdc_to_join_mv,
            cdc_changelog,
            incremental_join_mv,
            merge_upsert,
        )

        if not self.enrich_on:
            raise ValueError("update_enrich_dim requires enrich_on")
        dim_tbl = os.path.join(self.work_dir, "enrich", "dim_table")
        vt_right = VersionedTable(self.spark, f"{self._enrich_jmv_base}/right")
        seeded = vt_right.latest_version() is not None
        if not seeded:
            merge_upsert(self.spark, dim_tbl, updates, [self.enrich_on])
            # named seed marker: a crash between the MV commit and the
            # right-side commit leaves seeded=False, and without a
            # marker the retry would append the L_old ⋈ ΔR delta a
            # second time (a numbered id can't serve here — left
            # batches have already advanced the MV watermark)
            incremental_join_mv(
                self.spark,
                self._enrich_jmv_base,
                [self.enrich_on],
                right_batch=updates,
                seed_marker="jmv-seed",
            )
        else:
            log = cdc_changelog(vt_right.read(), updates, [self.enrich_on])
            merge_upsert(self.spark, dim_tbl, updates, [self.enrich_on])
            apply_cdc_to_join_mv(
                self.spark,
                self._enrich_jmv_base,
                [self.enrich_on],
                log,
                [self.enrich_on],
                side="right",
            )

    def enriched(self) -> DataFrame:
        """Current state of the CDC-maintained enrichment join MV
        (evaluations ⋈ dimension; requires ``enrich_on`` and a seeded
        dimension)."""
        from activedatawarehouseprototype_spark.operators.versioned import (
            VersionedTable,
        )

        return VersionedTable(self.spark, f"{self._enrich_jmv_base}/mv").read()

    # -- main entry: one micro-batch ------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        now = _now_ms()
        t_start = time.perf_counter()
        self._batch_count += 1
        self.metrics["batches"] = self._batch_count

        # (0) pick up rules registered mid-stream (S1/S3)
        self._poll_rules_dir()

        # (0b) ingest quality gate: quarantine violating rows before
        # anything downstream (buffer, MV, evaluation) sees them
        if self.ingest_constraints:
            from activedatawarehouseprototype_spark.operators.quality import (
                enforce,
            )

            batch_df, bad = enforce(batch_df, self.ingest_constraints)
            bad = bad.localCheckpoint()  # one materialization: write + count
            n_bad = bad.count()
            # per-batch OVERWRITE directory (quarantine/batch=<id>) —
            # the same idempotence trick as DedupIngest's store: an
            # at-least-once foreachBatch replay rewrites the identical
            # partition instead of appending duplicate rows, and the
            # metric only counts a batch id once.
            if n_bad:
                qdir = os.path.join(
                    self.work_dir, "quarantine", f"batch={batch_id}"
                )
                replay = os.path.exists(qdir)
                bad.write.mode("overwrite").parquet(qdir)
                if not replay:
                    self.metrics["events_quarantined"] = (
                        self.metrics.get("events_quarantined", 0) + n_bad
                    )
            self.metrics.setdefault("events_quarantined", 0)

        # (1) rule lifecycle
        self.registry.sweep_expired(now)
        if self.registry.clear_state_requested:
            self._clear_buffer()
            self.registry.clear_state_requested = False

        # (1b2) incremental summary MV (optional): merge this batch's
        # mergeable partials into the persisted per-key aggregate.
        # Runs on the pre-observe frame (its job must not populate the
        # Observation ahead of the buffer write) and passes batch_id
        # so foreachBatch replays after a restart are no-ops.
        if self.mv_key_cols and self.mv_value_col:
            from activedatawarehouseprototype_spark.operators.warehouse import (
                incremental_agg_mv,
            )

            incremental_agg_mv(
                self.spark,
                self.summary_mv_path,
                batch_df,
                self.mv_key_cols,
                self.mv_value_col,
                batch_id=batch_id,
                hist_bins=self.mv_hist_bins,
            )

        # (1b3) rolling z-score anomaly stage (optional): history
        # append + adaptive-baseline scoring of this batch's buckets
        if self.anomaly_key_cols and self.anomaly_value_col:
            self._update_anomalies(batch_df, batch_id)

        # (1b4) distribution-drift gate (optional): batch histogram
        # PSI-scored against all prior batches' accumulated histogram
        if self.drift_value_col and self.drift_bins:
            self._update_drift(batch_df, batch_id)

        # (1b5) CUSUM mean-shift gate (optional): per-slice batch mean
        # through the carried two-sided Page recurrence
        if self.cusum_value_col and self.cusum_target is not None:
            self._update_cusum(batch_df, batch_id)

        # (1b6) MAD outlier-burst gate (optional): per-slice fraction
        # of rows beyond z * scale of the robust center
        if self.mad_value_col and self.mad_scale is not None:
            self._update_mad(batch_df, batch_id)

        # (1b) observed batch metrics (ingest count + K3 latency) —
        # df.observe piggybacks the buffer write below, so NO extra
        # per-batch job touches the events.
        from pyspark.sql import Observation

        obs = Observation(f"batch_{batch_id}")
        # the batch's max event ts (advances the event-time high
        # watermark) rides the SAME observation — computing it with a
        # dedicated .agg was a second full scan of every batch
        obs_cols = [
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.unix_millis(F.col(self.ts_col))).alias("_max_ts"),
        ]
        has_latency = self.process_ts_col in batch_df.columns
        if has_latency:
            lat = F.unix_millis(F.current_timestamp()) - F.unix_millis(
                F.col(self.process_ts_col)
            )
            obs_cols += [F.avg(lat).alias("avg_ms"), F.max(lat).alias("max_ms")]
        batch_df = batch_df.observe(obs, *obs_cols)
        if has_latency:
            # per-batch overwrite dir: an at-least-once replay of this
            # batch replaces its own rows instead of appending
            # duplicates (same idempotence shape as the buffer/
            # quarantine writes)
            batch_df.select(
                F.col(self.ts_col).alias("event_ts"),
                lat.alias("latency_ms"),
            ).write.mode("overwrite").parquet(
                os.path.join(self.latency_path, f"batch={batch_id}")
            )

        active = self.registry.active()
        self.metrics["active_rules"] = len(active)
        # replay-idempotence guard: a child spawned during batch N
        # takes effect at batch N+1 — including when batch N itself is
        # REDELIVERED (at-least-once foreachBatch). Without this, a
        # replayed trigger batch is evaluated by children that did not
        # exist on its first run, and the batch=N idempotent sinks
        # overwrite the original rows with different ones (round-10
        # ECA soak finding).
        active = [
            r
            for r in active
            if r.born_batch_id is None or batch_id > r.born_batch_id
        ]

        # (2) shared event buffer with widest-window retention, read
        # back only when some rule evaluates it
        buffer = self._update_buffer(batch_df, batch_id, read=bool(active))
        vals = obs.get  # populated by the buffer/latency writes above
        bmax = vals.get("_max_ts")
        if bmax is not None:
            self._max_event_ts = max(self._max_event_ts or 0, int(bmax))
        self.metrics["events_ingested"] += vals.get("n_events", 0)
        if has_latency:
            self.metrics["latency_avg_ms"] = vals.get("avg_ms")
            self.metrics["latency_max_ms"] = vals.get("max_ms")
        if not active:
            self._watching = {}  # nothing evaluated this batch
            self._persist_watermarks()
            self.metrics["last_batch_seconds"] = time.perf_counter() - t_start
            return

        # (3) evaluate every active rule over the buffer in ONE
        # fanned-out plan (group_eval): one buffer scan + one shared
        # shuffle for all W2/W3 rules — per-batch scan/job count stays
        # O(#modes) as the rule set grows. Rules naming fields the
        # schema lost quarantine instead of failing the batch
        # (validated driver-side; the grouped plan would silently
        # aggregate nulls otherwise). Validation excludes the internal
        # ingest-batch and bucket columns: only the pipeline itself
        # may filter on _batch (born-batch scoping below), so a wire
        # rule naming it quarantines here (round-11 ADVICE).
        dtypes = {
            c: t
            for c, t in buffer.dtypes
            if c not in (self.BATCH_COL, self.BUCKET_COL)
        }
        by_id: dict[int, Rule] = {}
        for rule in active:
            try:
                validate_rule_fields(rule, dtypes)
                by_id[rule.query_id] = rule
            except ValueError as e:
                self._quarantine(rule, str(e))
        if not by_id:
            self._watching = {}  # nothing evaluated this batch
            self._persist_watermarks()
            self.metrics["last_batch_seconds"] = time.perf_counter() - t_start
            return

        # (3a) registration/reentry gate: a rule ENTERING evaluation
        # (not evaluated last batch — newly registered, unpaused, or
        # un-quarantined) while the buffer no longer covers full stream
        # history must not emit windows that started before the
        # coverage horizon — those would aggregate a truncated event
        # set yet be labeled final (the reference shares one pruned
        # buffer across all rules, so it has the same truncation; this
        # engine refuses to emit the wrong answer). Floor = cov + w - 1
        # on window_end keeps exactly the windows whose full [start,
        # end] span is covered: W2/W3 end = start + w, W1 end = event
        # ts with trailing [ts-w, ts]. Continuously-watched rules need
        # no floor: their earlier windows emitted when they closed,
        # under the retention invariant that closing windows are fully
        # readable.
        cov = self._cov_start
        for qid, rule in by_id.items():
            w_ms = int(rule.window_milliseconds or 0)
            prev_w = self._watching.get(qid)
            if prev_w is not None and w_ms <= prev_w:
                continue  # continuously watched at this width or wider
            if cov is None or w_ms <= 0:
                continue  # full history covered, or W0 (no aggregation)
            floor = cov + w_ms - 1
            self._emitted_wm[qid] = max(self._emitted_wm.get(qid, 0), floor)
        self._watching = {
            qid: int(r.window_milliseconds or 0) for qid, r in by_id.items()
        }

        # (3b) born-batch scoping (reference parity + replay
        # idempotence, round-10 ECA soak): a SPAWNED rule aggregates
        # only events INGESTED after its birth batch — the Flink child
        # registers via broadcast and its keyed window accumulates from
        # registration (KafkaSender → DynamicKeyFunction), so it never
        # sees the trigger event or earlier buffer history; and a
        # REPLAYED trigger batch must not be evaluated by children that
        # did not exist on its first run (the batch=N idempotent sinks
        # would overwrite the original rows with different ones). The
        # scope is one more filter conjunct, ``_batch > born``, on the
        # child's copy: a row predicate inside the single scan, and a
        # distinct shape per birth batch (group_eval.shape_key).
        rules = [
            r
            if r.born_batch_id is None
            else dataclasses.replace(
                r,
                window_filter_rules=[
                    *r.window_filter_rules,
                    WindowFilterRule(
                        self.BATCH_COL,
                        LimitOperatorType.GREATER,
                        str(r.born_batch_id),
                    ),
                ],
            )
            for r in by_id.values()
        ]

        # (4) emission bounds, applied inside the evaluation plan as
        # data of its folded literals (group_eval's codegen invariant):
        # - W2/W3: only windows CLOSED by the event-time high watermark
        #   (window_end <= max event ts - lateness) — finalized-window
        #   append semantics; open windows wait for later batches.
        # - all modes: the per-rule emitted-window_end watermark (or
        #   registration floor) suppresses re-emission of buffered
        #   events across batches.
        closed = (
            None
            if self._max_event_ts is None
            else self._max_event_ts - self.lateness_ms
        )
        bounds = {
            qid: (
                self._emitted_wm.get(qid),
                closed if window_mode(r) in ("W2", "W3") else None,
            )
            for qid, r in by_id.items()
        }
        evals = evaluate_rules_grouped(
            buffer,
            rules,
            ts_col=self.ts_col,
            salt_buckets=self.salt_buckets,
            emit_bounds=bounds,
        )
        n_rows, n_fired = self._write_evaluations(evals, batch_id)
        # every later read takes this batch's rows back from the small
        # partition just written: the evaluation plan runs once, and
        # nothing is cached
        if n_rows:
            evals = self.spark.read.schema(evals.schema).parquet(
                os.path.join(self.evals_path, f"batch={batch_id}")
            )
        else:
            evals = evals.limit(0)
        # (4b) enrichment join MV: this batch's evaluations are the
        # left delta — ONE delta join against the dim snapshot,
        # batch-id-idempotent (foreachBatch replays are no-ops)
        if self.enrich_on:
            from activedatawarehouseprototype_spark.operators.warehouse import (
                incremental_join_mv,
            )

            incremental_join_mv(
                self.spark,
                self._enrich_jmv_base,
                [self.enrich_on],
                left_batch=evals,
                batch_id=batch_id,
            )
        wm_rows, spawn_rows = [], []
        if n_fired:
            fired = evals.filter("fired")
            emitted = (
                self._apply_alert_cooldown(fired)
                if self.alert_cooldown_ms
                else fired
            )
            # written only when non-empty, so a replay that fires
            # nothing cannot erase the original batch's alerts; a
            # cooldown that suppressed every firing leaves none pending
            if not self.alert_cooldown_ms or self._cooldown_pending is not None:
                emitted.write.mode("overwrite").parquet(
                    os.path.join(self.alerts_path, "data", f"batch={batch_id}")
                )
            if self.alert_cooldown_ms:
                # durable clock commits only after the sink write above
                self._commit_alert_cooldown()
            # Bounded control-plane collect: DISTINCT trigger pairs,
            # capped — the driver never materializes the data plane.
            spawning_ids = [qid for qid, r in by_id.items() if r.alert_rules]
            if spawning_ids:
                spawn_rows = (
                    fired.filter(F.col("query_id").isin(spawning_ids))
                    .select("query_id", "key")
                    .distinct()
                    .limit(self.spawn_collect_cap)
                    .collect()
                )
        if n_rows:
            wm_rows = (
                evals.groupBy("query_id")
                .agg(F.max(F.unix_millis("window_end")).alias("max_end"))
                .collect()
            )
        self.metrics["alerts_fired"] += n_fired
        for r in wm_rows:
            if r.max_end is not None:
                self._emitted_wm[r.query_id] = max(
                    self._emitted_wm.get(r.query_id, 0), int(r.max_end)
                )
        self._persist_watermarks()
        # (5) ECA spawning (C5-C7)
        for row in spawn_rows:
            rule = by_id[row.query_id]
            key_values = parse_composite_key(row.key, rule.grouping_key_names)
            for template in rule.alert_rules:
                if not self.throttle.allow(template.query_id, row.key):
                    continue
                child = instantiate_child(
                    template, key_values, rule.query_id, now, self.id_worker
                )
                if child is None:  # NULL trigger key — see eca.py
                    self.metrics["spawns_skipped_null_key"] = (
                        self.metrics.get("spawns_skipped_null_key", 0) + 1
                    )
                    continue
                child.born_batch_id = batch_id  # effective from batch_id+1
                self.registry.apply(child, now)
                self.metrics["rules_spawned"] += 1
        self.metrics["last_batch_seconds"] = time.perf_counter() - t_start

    def _write_evaluations(self, evals: DataFrame, batch_id: int) -> tuple[int, int]:
        """Write this batch's evaluation rows to ``evaluations/batch=<id>``
        and return (rows, fired rows), observed on the write itself — no
        separate emptiness probe or count job.

        Dynamic partition overwrite replaces only the partitions the
        output holds. A replay BEFORE the watermark commit recomputes
        the identical rows and replaces them 1:1; a replay AFTER it
        emits nothing (the gates are monotone), so it writes no
        partition and the original rows stay. The batch id rides a
        string literal because an integer one would be inlined into the
        generated code and recompile the write every batch; the
        ``batch`` directory names still read back as integers. The path
        is given as ``evaluations/`` so path-based write accounting
        (perfbench/streams.py) files it as a sink write."""
        from pyspark.sql import Observation

        obs = Observation(f"evals_{batch_id}")
        evals.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("fired").cast("long")).alias("n_fired"),
        ).withColumn("batch", F.lit(str(batch_id))).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch").parquet(os.path.join(self.evals_path, ""))
        got = obs.get
        return int(got["n_rows"]), int(got["n_fired"] or 0)

    def _quarantine(self, rule: Rule, reason: str) -> None:
        """A rule that no longer validates against the event schema is
        PAUSEd in place (it stays visible for inspection) rather than
        killing the batch; its reason lands in
        ``metrics["quarantined"][query_id]`` and one warning. Persisted
        immediately: without it a restart would reload the rule as
        ACTIVE and re-fail it every cycle, and persisted state would
        disagree with what the pipeline actually ran."""
        self.metrics["rule_errors"] = self.metrics.get("rule_errors", 0) + 1
        self.metrics.setdefault("quarantined", {})[rule.query_id] = reason
        _log.warning("rule %s quarantined: %s", rule.query_id, reason)
        rule.query_state = RuleState.PAUSE
        self.registry.rules[rule.query_id] = rule
        self.registry._persist()

    # -- rule-source polling ----------------------------------------------------

    def _poll_rules_dir(self) -> None:
        """Drain the rule-ingestion transport into the registry (S1/S3;
        the Kafka analogue plugs in behind the same RuleSource.poll)."""
        if self.rule_source is None:
            return
        for line in self.rule_source.poll():
            self.registry.apply_json(line)

    # -- buffer management ------------------------------------------------------

    # physically rewrite the buffer only every N batches; logical
    # retention is applied on read every batch.
    PRUNE_EVERY = 8
    # derived event-time partition column of the on-disk buffer layout
    # (never visible to rule evaluation — dropped before return)
    BUCKET_COL = "_bucket"
    # per-batch partition column: each micro-batch OVERWRITES its own
    # ``_batch=<id>`` directory, so an at-least-once foreachBatch
    # replay rewrites identical data instead of appending duplicates
    # into window aggregates (found by the round-5 concurrency soak:
    # replaying the pre-restart batch inflated SUM windows). The
    # column survives the physical rewrite for the same reason.
    BATCH_COL = "_batch"

    def _bucket_expr(self):
        return F.floor(
            F.unix_millis(self.ts_col) / F.lit(self.buffer_bucket_ms)
        ).cast("bigint")

    def _buffer_buckets(self) -> set[str]:
        """Values of the ``_bucket=<v>`` directories under every
        ``_batch=<id>`` partition: the event-time buckets holding
        buffered data. A partitioned write of 0 rows creates the batch
        directory with only _SUCCESS — no bucket directory, no data
        files, so an empty set means a parquet read of the buffer
        cannot infer a schema."""
        try:
            entries = os.listdir(self.buffer_path)
        except FileNotFoundError:
            return set()
        out: set[str] = set()
        for e in entries:
            if not e.startswith(self.BATCH_COL + "="):
                continue
            try:
                sub = os.listdir(os.path.join(self.buffer_path, e))
            except NotADirectoryError:
                continue
            prefix = self.BUCKET_COL + "="
            out.update(d[len(prefix):] for d in sub if d.startswith(prefix))
        return out

    def _update_buffer(
        self, batch_df: DataFrame, batch_id: int, read: bool = True
    ) -> DataFrame | None:
        """Shared event buffer, widest-ACTIVE-window retention. Returns
        the readable buffer; with ``read=False`` (no rule evaluates this
        batch) it may return None instead and skip the read.

        Per-batch cost is O(new batch): the micro-batch OVERWRITES its
        own ``_batch=<id>`` directory of the buffer (idempotent under
        foreachBatch's at-least-once replay — an append here would
        double-count replayed events in every window aggregate); the
        event-time high watermark advances from the BATCH's max ts (no
        full-buffer scan); retention is a read-side filter at the
        PREVIOUS batch's watermark — the one-batch lag guarantees a
        window closing this batch (end <= current watermark, end >
        previous watermark) still has its complete event set in the
        readable buffer, however far the new batch jumped ahead in
        event time.

        Layout: the buffer is PARTITIONED by event-time bucket
        (``_bucket = floor(ts_ms / buffer_bucket_ms)``, hour
        directories by default) and the retention predicate is pushed
        onto the partition column, so expired data is skipped at file
        granularity (partition pruning) — the every-batch read never
        opens footers behind the horizon, which is what survives a
        100-TB buffer. The exact row-level ``ts >= horizon`` filter
        stays on top for within-bucket precision. The physical rewrite
        (drop expired partitions, compact the per-batch small files)
        runs every PRUNE_EVERY batches. This is the parquet stand-in
        for a Delta table partitioned by event date with retention —
        same shape, swap the writer."""
        # recover a crashed compaction swap BEFORE writing into the
        # buffer dir: the batch write below recreates the target, and
        # a recover_swap that runs only after it would then classify
        # the .old holding the ENTIRE committed buffer as post-commit
        # garbage and delete it
        from activedatawarehouseprototype_spark.operators.warehouse import (
            recover_swap,
        )

        recover_swap(self.buffer_path)
        batch_df.withColumn(self.BUCKET_COL, self._bucket_expr()).write.mode(
            "overwrite"
        ).partitionBy(self.BUCKET_COL).parquet(
            os.path.join(self.buffer_path, f"{self.BATCH_COL}={batch_id}")
        )
        buckets = self._buffer_buckets()
        self._has_buffer = bool(buckets)

        # the event-time high watermark (_max_event_ts) is advanced by
        # the CALLER from the Observation the buffer write populates —
        # a dedicated .agg here cost a second full batch scan per
        # micro-batch. Retention below only needs the PREVIOUS batch's
        # watermark anyway (the one-batch-lag contract in the
        # docstring), so this method reads, never writes, it.
        prev_wm = self._max_event_ts

        widest = self.registry.widest_window_ms()
        horizon = (
            (prev_wm - widest - self.lateness_ms)
            if (widest > 0 and prev_wm is not None)
            else None
        )
        cov_candidates = [h for h in (horizon, self._pruned_to) if h is not None]
        self._cov_start = max(cov_candidates) if cov_candidates else None

        if not self._has_buffer:
            # Empty first micro-batch: nothing was ever written, so the
            # directory has no data files and the read below would fail
            # with 'Unable to infer schema'. The batch-shaped empty
            # frame IS the buffer (plus the _batch column the real read
            # carries for born-batch scoping).
            return batch_df.limit(0).withColumn(
                self.BATCH_COL, F.lit(batch_id).cast("int")
            )

        # (crash recovery for a mid-compaction swap already ran at the
        # top of this method, before the batch write)
        from activedatawarehouseprototype_spark.operators.warehouse import (
            commit_swap,
        )

        prune = self._batch_count % self.PRUNE_EVERY == 0
        if not (read or prune):
            return None
        buffer = self.spark.read.parquet(self.buffer_path)

        def _retained(df: DataFrame) -> DataFrame:
            if horizon is None:
                return df
            # The horizon moves every batch, so it rides a folded map
            # literal keyed by live bucket, not a primitive literal that
            # codegen would inline. Buckets behind it (and the null-ts
            # default partition) read NULL: the partition-only conjunct
            # prunes their files, the exact ts floor follows.
            first = horizon // self.buffer_bucket_ms
            live = [
                {"k": int(b), "v": horizon}
                for b in buckets
                if b.lstrip("-").isdigit() and int(b) >= first
            ]
            floor = F.map_from_entries(
                F.from_json(F.lit(json.dumps(live)), "array<struct<k:bigint,v:bigint>>")
            )[F.col(self.BUCKET_COL).cast("bigint")]
            return df.filter(
                floor.isNotNull() & (F.unix_millis(self.ts_col) >= floor)
            )

        buffer = _retained(buffer)
        if prune and not buffer.isEmpty():
            # (isEmpty guard: a partitioned write of 0 rows emits no
            # files, and the re-read below couldn't infer a schema)
            staging = self.buffer_path + ".staging"
            # the rewrite keeps the per-batch partition level: rows stay
            # under their original _batch=<id>, so a later replay of any
            # batch still lands as an idempotent directory overwrite;
            # the swap itself uses the crash-safe protocol (a crash at
            # any point leaves either the old or compacted buffer — a
            # naive rmtree+rename window would silently evaluate every
            # open window over an EMPTY buffer after a restart, since
            # the checkpointed stream does not re-deliver old batches)
            buffer.write.mode("overwrite").partitionBy(
                self.BATCH_COL, self.BUCKET_COL
            ).parquet(staging)
            commit_swap(self.buffer_path, staging)
            if horizon is not None:
                # events behind the horizon are now physically gone —
                # record it so a later widening of the logical horizon
                # (a wider rule registering) doesn't claim coverage of
                # data that no longer exists
                self._pruned_to = max(self._pruned_to or 0, horizon)
            # keep the retention predicate on the compacted read so
            # evaluation semantics don't depend on prune timing
            buffer = _retained(self.spark.read.parquet(self.buffer_path))
        # _batch stays: evaluation scopes SPAWNED rules to events
        # ingested after their birth batch (a filter conjunct on it)
        return buffer.drop(self.BUCKET_COL)

    def _clear_buffer(self) -> None:
        if os.path.exists(self.buffer_path):
            shutil.rmtree(self.buffer_path)
        self._has_buffer = False
        self._emitted_wm.clear()
        self._max_event_ts = None
        self._pruned_to = None
        self._cov_start = None
        self._watching.clear()

    # -- sinks ------------------------------------------------------------------

    _ALERT_SCHEMA = (
        "query_id long, key string, window_start timestamp, "
        "window_end timestamp, agg_value double, fired boolean"
    )

    def _read_sink(self, path: str, empty_schema: str) -> DataFrame:
        """A per-batch sink without its ``batch`` partition column.
        Only a sink holding no data file yet — missing, or a write of
        0 rows that left just ``_SUCCESS`` — reads as an empty frame; a
        corrupt or unreadable store raises."""
        for _, dirs, files in os.walk(path):
            # the names Spark's file listing skips: hidden, and
            # underscore-prefixed unless a partition directory
            dirs[:] = [
                d for d in dirs
                if not d.startswith(".") and ("=" in d or not d.startswith("_"))
            ]
            if any(not f.startswith(("_", ".")) for f in files):
                # batch= partition dirs are replay bookkeeping, not data
                return self.spark.read.parquet(path).drop("batch")
        return local_rows_df(self.spark, [], empty_schema)

    def alerts(self) -> DataFrame:
        return self._read_sink(os.path.join(self.alerts_path, "data"), self._ALERT_SCHEMA)

    def evaluations(self) -> DataFrame:
        return self._read_sink(self.evals_path, self._ALERT_SCHEMA)

    def latency(self) -> DataFrame:
        """K3 latency side-output stream (event_ts, latency_ms)."""
        return self._read_sink(self.latency_path, "event_ts timestamp, latency_ms bigint")

    # -- streaming attach ---------------------------------------------------------

    def run_stream(self, events_stream: DataFrame, trigger_available_now: bool = True):
        """Attach to a streaming DataFrame via foreachBatch (S2/S3
        analogue: the driver re-reads rules each batch, so rules can be
        registered mid-stream). A CLEAR_STATE_ALL_STOP control verb
        (C4) stops the query after the batch that observed it —
        ``query.stop()`` is issued from a separate thread because
        calling it inside the micro-batch thread would deadlock."""
        import threading

        holder: dict = {}

        def _batch(df: DataFrame, bid: int) -> None:
            self.process_batch(df, bid)
            if self.registry.stop_requested and not holder.get("stopping"):
                q = holder.get("q")
                # latch only once the query handle exists: the first
                # batch can finish before writer.start() returns on
                # the main thread, and latching with q=None would make
                # every later batch skip the stop forever
                if q is not None:
                    holder["stopping"] = True
                    threading.Thread(target=q.stop, daemon=True).start()

        writer = events_stream.writeStream.foreachBatch(_batch).option(
            "checkpointLocation", os.path.join(self.work_dir, "chk")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        holder["q"] = query
        return query
