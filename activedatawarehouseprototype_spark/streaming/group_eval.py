"""Single-scan N-rule evaluation — the engine's signature hot path.

The reference makes exactly ONE pass over the event stream regardless
of how many rules are registered: ``DynamicKeyFunction.java:51-105``
fans each event out to every matching rule before one keyBy shuffle,
and ``DynamicQueryFunction`` aggregates per (rule, key). The per-rule
compiled plans (rules/compiler.py) are the right shape for standing
batch queries — maximal per-rule pushdown — but unioning N of them
re-scans the buffer N times, which is the #1 scale-killer at 100 TB.

This module is the Spark analogue of the reference's topology, with a
sharing layer on top:

1. Rules are grouped into SHAPES — identical (filters, grouping keys,
   window, frequency, aggregate field). Alert-tier workloads (one
   query registered at several thresholds, ECA children differing only
   in aggregator) collapse to one shape: the expensive work is done
   once per shape, never once per rule.
2. Compiled fan-out: ONE projection over ONE scan builds, per event,
   an array of per-SHAPE match structs — each guarded by that shape's
   compiled LITERAL predicate (whole-stage codegen) — then ``inline``
   and a not-null filter. No join, no per-row field maps;
   each surviving row carries (shape_id, key, _value, window
   geometry). The literals change only with the rule set, so a steady
   rule set reuses its compiled classes batch after batch; the rules-as-data
   variant (operators/fanout.py, BroadcastNestedLoopJoin) remains for
   fixed long-lived plans over mutable rule tables.
3. ONE ``groupBy(shape_id, key, window_start)`` for ALL W2/W3 shapes
   at once — window starts are computed *data-driven* from the shape
   row's own window/frequency columns (epoch-millis integer math,
   identical to rules/compiler.py and rules/sql_gen.py), so shapes
   with different window sizes still share the single shuffle. Every
   aggregate some rule uses (of SUM/AVG/MIN/MAX/COUNT) is computed in
   that one pass (map-side partial aggregation applies).
4. The per-rule expansion is a constant lookup: one folded literal
   holds each shape's member-rule metadata, and every shape row
   ``inline``s its own list, so each rule selects its aggregate from
   the five and applies its own threshold — no join, no extra job.
   Aggregation cost is O(#shapes); only the final projection is
   O(#rules). Every mode's branch yields the same columns, so the
   branches union first and expand once.
5. W1 (per-event slide) shapes share the scan and get one RANGE-frame
   window pass per *distinct* window size when sizes are few (frame
   bounds must be plan constants — cheapest JVM path); at
   ``W1_FUSE_MIN_SIZES`` or more distinct sizes, ALL W1 shapes fuse
   into ONE shuffle + ONE Arrow ``applyInPandas`` pass whose trailing
   window is data-driven per shape (the same carry-the-geometry trick
   the W2/W3 branch uses), so the W1 scan/pass count stays O(1) as the
   size population grows. W0 passthrough shapes are a projection.

Per-batch Spark-job/scan count is therefore O(#modes), not O(#rules),
and shuffle volume is O(#shapes), not O(#rules).

Driver cost: with small fresh batches the plan's construction, not
its execution, is a large share of a micro-batch. The Columns that
depend only on the rule set and the event schema (``RuleSetPlan``) are
built once and reused through the caller's ``plans`` memo while the
rule set is unchanged; a batch pays for its two bound literals and
about one DataFrame operation per step (each costs a JVM analysis of
the growing plan, whatever its size).

Codegen invariant: a value that changes every batch rides a REFERENCE
literal (a folded string/array/map/struct constant, which generated
code reads from its references array) or row data, never a primitive
literal — whole-stage codegen inlines primitive literals into the Java
source, so one would make every steady batch recompile its classes.
The per-rule emission bounds (``emit_bounds``) are fields of each
rule's struct in the folded ``_rule_metas`` literal, and the shape-level
bounds that prune windows below the aggregation are an array literal
indexed by ``shape_id``. The rule filters stay compiled literals: they
change only with the rule set.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from activedatawarehouseprototype_spark.rules.compiler import (
    compile_filter,
    composite_key,
    key_columns,
    window_mode,
)
from activedatawarehouseprototype_spark.rules.model import Rule, RuleState
from activedatawarehouseprototype_spark.session import local_rows_df

from activedatawarehouseprototype_spark.rules.compiler import (  # noqa: E402
    _NUMERIC_PREFIXES,
)

RULE_META_TYPE = (
    "array<array<struct<query_id:bigint, agg_fn:string, "
    "limit_op:string, limit_val:double, after:bigint, until:bigint>>>"
)
SHAPE_BOUNDS_TYPE = "array<struct<after:bigint, until:bigint>>"
# the shape-level aggregate column each rule's aggregator reads
_AGG_COLS = {
    "COUNT": "_cnt", "SUM": "_sum", "AVG": "_avg", "MIN": "_min", "MAX": "_max"
}


def _agg_fn(rule: Rule) -> str | None:
    if rule.is_count:
        return "COUNT"
    return getattr(rule.aggregator_function_type, "value", None)


def validate_rule_fields(rule: Rule, dtypes: dict[str, str]) -> None:
    """Driver-side schema check standing in for the per-rule compile
    errors of the union path: a rule naming a field the event schema
    doesn't have must quarantine, not silently aggregate nulls."""
    for f in rule.window_filter_rules:
        if f.field not in dtypes:
            raise ValueError(f"rule {rule.query_id}: unknown filter field {f.field!r}")
        # an unparseable numeric literal must quarantine the rule, not
        # silently match zero events: the compiled-literal path raises
        # at float(), but the rules-as-data fan_out path would cast to
        # NULL and drop every row — the two equivalence-tested
        # strategies must fail identically
        if dtypes[f.field].startswith(_NUMERIC_PREFIXES):
            try:
                float(f.value)
            except (TypeError, ValueError):
                raise ValueError(
                    f"rule {rule.query_id}: non-numeric comparison value "
                    f"{f.value!r} for numeric field {f.field!r}"
                ) from None
    for k in key_columns(rule):
        if k not in dtypes:
            raise ValueError(f"rule {rule.query_id}: unknown grouping key {k!r}")
    if window_mode(rule) != "W0" and not rule.is_count:
        if rule.aggregator_function_type is None:
            raise ValueError(f"rule {rule.query_id}: no aggregator configured")
        fld = rule.aggregate_field_name
        if fld is None or fld not in dtypes:
            raise ValueError(f"rule {rule.query_id}: unknown aggregate field {fld!r}")
        if not dtypes[fld].startswith(_NUMERIC_PREFIXES):
            raise ValueError(
                f"rule {rule.query_id}: aggregate field {fld!r} is not numeric"
            )


def shape_key(rule: Rule) -> tuple:
    """Everything that determines WHICH values aggregate together —
    rules equal on this tuple share one aggregation; they may still
    differ in aggregator function and threshold (selected post-agg)."""
    return (
        tuple((f.field, f.operator.value, f.value) for f in rule.window_filter_rules),
        tuple(key_columns(rule)),
        int(rule.window_milliseconds or 0),
        int(rule.frequency_milliseconds) if rule.frequency_milliseconds else 0,
        window_mode(rule),
        None if rule.is_count else rule.aggregate_field_name,
    )


def group_shapes(rules: list[Rule]) -> list[tuple[int, Rule, list[Rule]]]:
    """(shape_id, representative rule, member rules) per distinct shape."""
    out: list[tuple[int, Rule, list[Rule]]] = []
    index: dict[tuple, int] = {}
    for r in rules:
        k = shape_key(r)
        if k in index:
            out[index[k]][2].append(r)
        else:
            index[k] = len(out)
            out.append((len(out), r, [r]))
    return out


def _shape_struct(shape_id: int, rep: Rule, events: DataFrame) -> Column:
    """Literal per-shape match struct: NULL when the shape's (compiled,
    literal — whole-stage-codegen) filter rejects the row, else the
    shape's id/key/value/window geometry. One array of these per event,
    inlined with its NULLs dropped, IS the fan-out — no join, no maps."""
    if rep.is_count or rep.aggregate_field_name is None:
        # COUNT shapes and W0 passthrough rules (which validly carry
        # no aggregate field) have no value column to read
        value = F.lit(None).cast("double")
    else:
        value = F.col(rep.aggregate_field_name).cast("double")
    meta = F.struct(
        F.lit(shape_id).cast("bigint").alias("shape_id"),
        composite_key(rep).alias("key"),
        value.alias("_value"),
        F.lit(window_mode(rep)).alias("mode"),
        F.lit(int(rep.window_milliseconds or 0)).cast("bigint").alias("window_ms"),
        F.lit(
            int(rep.frequency_milliseconds) if rep.frequency_milliseconds else 0
        ).cast("bigint").alias("freq_ms"),
    )
    return F.when(compile_filter(rep, events), meta)


SHAPE_RULES_SCHEMA = (
    "shape_id bigint, "
    "filters array<struct<field:string, operator:string, value:string>>, "
    "grouping_keys array<string>, "
    "mode string, window_ms bigint, freq_ms bigint, agg_field string"
)

# Above this many shapes, the compiled literal projection's per-batch
# Catalyst analysis cost (proportional to #shapes; ~16 s at 500 shapes
# on local[32]) outweighs its per-row win — switch to the rules-as-data
# BroadcastNestedLoopJoin, whose plan is O(1) in shape count.
LITERAL_MAX_SHAPES = 150

# At this many DISTINCT W1 window sizes, the per-size JVM RANGE passes
# (each re-executing the fan-out subtree) lose to one fused Arrow pass
# whose window size is data-driven per shape. Below it, the pure-JVM
# window exec wins on per-row cost.
W1_FUSE_MIN_SIZES = 4

_W1_FUSED_SCHEMA = (
    "shape_id bigint, key string, window_ms bigint, _tsl bigint, "
    "_sum double, _avg double, _min double, _max double, _cnt double"
)


def _w1_fused_group(pdf):
    """Per-(shape, key) trailing-window aggregates for the fused W1
    path: one pandas time-rolling pass per aggregate, window size read
    from the group's own ``window_ms`` (constant within a shape).
    Inclusive [t - w, t] bounds re-indexed to last-peer positions —
    identical boundary semantics to the RANGE-frame path and to
    ``per_event_window.w1_batch_aggregate`` (integer-ms datetime index:
    boundary inclusion is exact; float SUM/AVG may differ from the
    JVM's summation order in the last ulp, the repo-wide float
    discipline). Group memory is O(events per key per batch) — the same
    bound as the JVM window exec's per-partition sort buffer."""
    import numpy as np
    import pandas as pd

    from activedatawarehouseprototype_spark.streaming.per_event_window import (
        trailing_window_aggregates,
    )

    w = int(pdf["window_ms"].iloc[0])
    ts = pdf["_tsl"].to_numpy(np.int64)
    order = np.argsort(ts, kind="stable")
    ts = ts[order]
    vals = pdf["_value"].to_numpy(np.float64)[order]
    # ONE shared kernel with the W1 streaming operator (inclusive
    # [t - w, t] bounds, last-peer re-indexing, NaN->NULL empty mask) —
    # see trailing_window_aggregates; a boundary fix lands in both
    # paths at once
    aggs, empty = trailing_window_aggregates(
        ts, vals, w, ("SUM", "AVG", "MIN", "MAX", "COUNT")
    )
    out = {}
    for name, kind in (
        ("_sum", "SUM"),
        ("_avg", "AVG"),
        ("_min", "MIN"),
        ("_max", "MAX"),
        ("_cnt", "COUNT"),
    ):
        arr = aggs[kind]
        if name != "_cnt":
            # the JVM aggregates return NULL over an all-NULL window
            # while the pandas kernel returns NaN — a NON-null double
            # Spark orders above every number; mask to genuine NULL
            masked = pd.array(arr, dtype="Float64")
            masked[empty] = pd.NA
            out[name] = masked
        else:
            out[name] = arr
    return pd.DataFrame(
        {
            "shape_id": pdf["shape_id"].iloc[0],
            "key": pdf["key"].iloc[0],
            "window_ms": w,
            "_tsl": ts,
            **out,
        }
    )


def _literal_fanout(
    events: DataFrame, shapes: list[tuple[int, Rule, list[Rule]]], ts_col: str
) -> list[Column]:
    """The fan-out projection: the event time plus the inlined array of
    per-shape match structs. A shape whose filter rejects the row
    inlines an all-NULL row; a NULL event time (no window in any mode,
    the contract of rules/compiler.evaluate_rule) inlines a NULL array,
    i.e. no row. inline, not array_compact + explode: the compact is a
    lambda that whole-stage codegen falls back on."""
    ts = F.col(ts_col)
    structs = [_shape_struct(sid, rep, events) for sid, rep, _ in shapes]
    return [ts, F.inline(F.when(ts.isNotNull(), F.array(*structs)))]


def shape_fanout(
    events: DataFrame, shapes: list[tuple[int, Rule, list[Rule]]], ts_col: str = "ts"
) -> DataFrame:
    """One scan → one row per (event, matching shape) carrying
    (shape_id, key, _value, mode, window_ms, freq_ms).

    Two physical strategies, same semantics (equivalence-tested):
    - ≤ LITERAL_MAX_SHAPES: one projection building the array of
      per-shape literal match structs (whole-stage codegen, no join;
      plan size grows with #shapes).
    - above it: shapes become a broadcast DATA table evaluated by
      ``operators.fanout.fan_out`` (plan size constant; per-row map
      lookups instead of literals).
    """
    if len(shapes) <= LITERAL_MAX_SHAPES:
        return events.select(*_literal_fanout(events, shapes, ts_col)).filter(
            F.col("shape_id").isNotNull()
        )

    from activedatawarehouseprototype_spark.operators.fanout import fan_out

    spark = events.sparkSession
    rows = [
        (
            sid,
            [(f.field, f.operator.value, f.value) for f in rep.window_filter_rules],
            key_columns(rep),
            window_mode(rep),
            int(rep.window_milliseconds or 0),
            int(rep.frequency_milliseconds) if rep.frequency_milliseconds else 0,
            None if rep.is_count else rep.aggregate_field_name,
        )
        for sid, rep, _ in shapes
    ]
    rules_df = local_rows_df(spark, rows, SHAPE_RULES_SCHEMA)
    keyed = fan_out(events, rules_df, value_from="agg_field")
    return keyed.select(
        ts_col, "shape_id", "key", "_value", "mode", "window_ms", "freq_ms"
    )


def _rule_metas(
    shapes: list[tuple[int, Rule, list[Rule]]], bounds: dict[int, tuple]
) -> Column:
    """(shape_id → member-rule aggregate/threshold/emission bounds)
    expansion as ONE JSON literal that Catalyst folds to a constant
    array — the only place rule cardinality appears. Indexed by
    shape_id + 1. A W0 member reads the ``W0`` aggregate (0.0) and has
    no threshold, so it never fires."""

    def meta(r: Rule) -> dict:
        w0 = window_mode(r) == "W0"
        return {
            "query_id": r.query_id,
            "agg_fn": "W0" if w0 else _agg_fn(r),
            "limit_op": None if w0 else getattr(r.limit_operator_type, "value", None),
            "limit_val": None if r.limit is None else float(r.limit),
            "after": bounds[r.query_id][0],
            "until": bounds[r.query_id][1],
        }

    metas = [[meta(r) for r in members] for _, _, members in shapes]
    return F.from_json(F.lit(json.dumps(metas)), RULE_META_TYPE)


def _shape_bounds(
    shapes: list[tuple[int, Rule, list[Rule]]], bounds: dict[int, tuple]
) -> Column:
    """Per-shape emission bounds, the loosest over the shape's members
    (an unbounded member leaves its side unbounded): windows outside
    them no member can emit, so they are dropped before aggregation.
    One folded array literal indexed by shape_id + 1."""

    def loosest(members: list[Rule], side: int, pick) -> int | None:
        vals = [bounds[r.query_id][side] for r in members]
        return None if None in vals else pick(vals)

    out = [
        {"after": loosest(members, 0, min), "until": loosest(members, 1, max)}
        for _, _, members in shapes
    ]
    return F.from_json(F.lit(json.dumps(out)), SHAPE_BOUNDS_TYPE)


def _in_bounds(end_ms: Column, after: Column, until: Column) -> Column:
    """after < end_ms <= until, a NULL bound being unbounded."""
    return (after.isNull() | (end_ms > after)) & (until.isNull() | (end_ms <= until))


def _fired(agg: Column) -> Column:
    op, lim = F.col("limit_op"), F.col("limit_val")
    return (
        F.when(op.isNull() | lim.isNull(), F.lit(False))
        .when(op == "=", agg == lim)
        .when(op == "!=", agg != lim)
        .when(op == ">", agg > lim)
        .when(op == "<", agg < lim)
        .when(op == ">=", agg >= lim)
        .when(op == "<=", agg <= lim)
        .otherwise(F.lit(False))
    )


def _select_agg(used: set[str]) -> Column:
    """Each rule's own aggregate out of the shape's five, 0.0 for a W0
    member. Only the aggregates some rule ``used`` are read, so column
    pruning drops the others from the aggregation itself."""
    fn = F.col("agg_fn")
    return F.coalesce(
        F.when(fn == "W0", F.lit(0.0)),
        *[F.when(fn == n, F.col(c)) for n, c in _AGG_COLS.items() if n in used],
    ).cast("double")


# every evaluation branch yields these columns, so the branches union
# before ONE per-rule expansion
_BRANCH_COLS = ("shape_id", "key", "window_start", "window_end", *_AGG_COLS.values())


class RuleSetPlan:
    """Every Column of a grouped evaluation that depends only on the
    rule set's shapes, the aggregates its rules use and the event
    schema. Building them is hundreds of py4j round trips (each shape's
    compiled filter and key, the window math, the per-rule expansion),
    so ``evaluate_rules_grouped`` reuses one plan for as long as a
    caller's ``plans`` memo holds it. A batch adds only its emission
    bounds — two folded literals — and the DataFrame operations over
    its own events, kept to one per step: fan-out, per-branch
    aggregation, one union, one expansion."""

    def __init__(
        self,
        events: DataFrame,
        shapes: list[tuple[int, Rule, list[Rule]]],
        used: set[str],
        ts_col: str,
        salt_buckets: int | None,
    ):
        self.ts_col = ts_col
        self.modes = {window_mode(rep) for _, rep, _ in shapes}
        ts = F.col(ts_col)
        tsl = F.unix_millis(ts)
        mode, w = F.col("mode"), F.col("window_ms")
        aggs = [F.col(c) for c in _AGG_COLS.values()]
        self.fanout = (
            _literal_fanout(events, shapes, ts_col)
            if len(shapes) <= LITERAL_MAX_SHAPES
            else None
        )
        self.sid1 = F.col("shape_id").cast("int") + 1

        # per-event branches, each a row filter and a projection: W0
        # passthrough (the expansion gives agg 0.0, never fired), and
        # while W1 window sizes are few, one RANGE-frame window pass per
        # DISTINCT size (frame bounds must be plan constants), all over
        # the same fanned-out scan; the five aggregates are computed
        # once per (shape, event), then expanded per rule. Cheapest
        # per-row path (pure JVM window exec) while the sizes are few.
        self.per_event: list[tuple[Column, list[Column]]] = []
        if "W0" in self.modes:
            nulls = [F.lit(None).cast("double").alias(c) for c in _AGG_COLS.values()]
            self.per_event.append((
                mode == "W0",
                [F.col("shape_id"), F.col("key"), ts.alias("window_start"),
                 ts.alias("window_end"), *nulls],
            ))
        w1_sizes = sorted(
            {int(rep.window_milliseconds) for _, rep, _ in shapes if window_mode(rep) == "W1"}
        )
        for size in w1_sizes if len(w1_sizes) < W1_FUSE_MIN_SIZES else []:
            wspec = Window.partitionBy("shape_id", "key").orderBy(tsl).rangeBetween(-size, 0)
            self.per_event.append((
                (mode == "W1") & (w == size),
                [
                    F.col("shape_id"),
                    F.col("key"),
                    (ts - F.expr(f"INTERVAL {size} MILLISECONDS")).alias("window_start"),
                    ts.alias("window_end"),
                    F.sum("_value").over(wspec).alias("_sum"),
                    F.avg("_value").over(wspec).alias("_avg"),
                    F.min("_value").over(wspec).alias("_min"),
                    F.max("_value").over(wspec).alias("_max"),
                    F.count(F.lit(1)).over(wspec).cast("double").alias("_cnt"),
                ],
            ))
        # Many distinct W1 sizes: ONE shuffle on (shape, key) + ONE
        # Arrow pass computes every shape's trailing aggregates with the
        # window size read from the row's own window_ms column — pass
        # count stays O(1) however many W1 sizes are live.
        self.w1_fused = None
        if len(w1_sizes) >= W1_FUSE_MIN_SIZES:
            self.w1_fused = (
                [F.col("shape_id"), F.col("key"), w, tsl.alias("_tsl"), F.col("_value")],
                [
                    F.col("shape_id"),
                    F.col("key"),
                    F.timestamp_millis(F.col("_tsl") - w).alias("window_start"),
                    F.timestamp_millis(F.col("_tsl")).alias("window_end"),
                    *aggs,
                ],
            )

        # W2/W3: epoch-millis integer window math, identical to the
        # compiler's F.window bucketing and the SQL twin
        # (rules/sql_gen.py): tumbling start = tsl - tsl % w; sliding
        # starts = multiples of f in (tsl - w, tsl]. Rows of other modes
        # (and rows no shape matched) explode a NULL array: no rows.
        f_ = F.col("freq_ms")
        ws_arr = F.when(mode == "W2", F.array(tsl - F.pmod(tsl, w))).when(
            mode == "W3",
            F.sequence((tsl - w) - F.pmod(tsl - w, f_) + f_, tsl - F.pmod(tsl, f_), f_),
        )
        # window_ms is functionally dependent on shape_id — a free
        # rider in the grouping key, needed for window_end. Grouping
        # is by the RENDERED key string — reference parity
        # (DynamicKeyFunction keys the stream by the composite-key
        # STRING, so NULL and the literal string 'null' in one column
        # merge into one group). The typed-column grouping of
        # rules/compiler.py keeps them apart; the pipeline evaluates
        # every rule here, so its output never depends on which path
        # a rule took.
        self.group_cols = ["shape_id", "key", "ws", "window_ms"]
        self.w23_in = [*map(F.col, ("shape_id", "key", "window_ms", "_value"))]
        self.salt_buckets = salt_buckets if salt_buckets and salt_buckets > 1 else None
        if self.salt_buckets:
            # two-phase salted aggregation for hot composite keys
            self.w23_in.append(
                F.pmod(F.crc32(ts.cast("string")), self.salt_buckets).alias("_salt")
            )
            self.salted_aggs = [
                F.sum("_value").alias("_psum"),
                F.count("_value").alias("_pvcnt"),
                F.min("_value").alias("_pmin"),
                F.max("_value").alias("_pmax"),
                F.count(F.lit(1)).alias("_pcnt"),
            ]
            self.w23_aggs = [
                F.sum("_psum").alias("_sum"),
                (F.sum("_psum") / F.sum("_pvcnt")).alias("_avg"),
                F.min("_pmin").alias("_min"),
                F.max("_pmax").alias("_max"),
                F.sum("_pcnt").cast("double").alias("_cnt"),
            ]
        else:
            self.w23_aggs = [
                F.sum("_value").alias("_sum"),
                F.avg("_value").alias("_avg"),
                F.min("_value").alias("_min"),
                F.max("_value").alias("_max"),
                F.count(F.lit(1)).cast("double").alias("_cnt"),
            ]
        self.w23_in.append(F.explode(ws_arr).alias("ws"))
        self.w23_end = F.col("ws") + w
        self.w23_out = [
            F.col("shape_id"),
            F.col("key"),
            F.timestamp_millis(F.col("ws")).alias("window_start"),
            F.timestamp_millis(self.w23_end).alias("window_end"),
            *aggs,
        ]

        # per-rule expansion: one row per (branch row, member rule)
        # whose emission bounds admit the window end, each rule taking
        # its own aggregate and threshold
        agg = _select_agg(used)
        self.member_ok = _in_bounds(
            F.unix_millis("window_end"), F.col("after"), F.col("until")
        )
        self.expanded = [
            F.col("query_id"),
            F.col("key"),
            F.col("window_start"),
            F.col("window_end"),
            agg.alias("agg_value"),
            _fired(agg).alias("fired"),
        ]

    def evaluate(
        self,
        events: DataFrame,
        shapes: list[tuple[int, Rule, list[Rule]]],
        bounds: dict[int, tuple],
    ) -> DataFrame:
        if self.fanout is not None:
            keyed = events.select(*self.fanout)
        else:
            # null event time ⇒ no window ⇒ excluded in every mode
            keyed = shape_fanout(
                events.filter(F.col(self.ts_col).isNotNull()), shapes, self.ts_col
            )
        parts = [keyed.filter(cond).select(*cols) for cond, cols in self.per_event]
        if self.w1_fused:
            fused_in, fused_out = self.w1_fused
            fused = (
                keyed.filter(F.col("mode") == "W1")
                .select(*fused_in)
                .groupBy("shape_id", "key")
                .applyInPandas(_w1_fused_group, _W1_FUSED_SCHEMA)
            )
            parts.append(fused.select(*fused_out))
        if self.modes & {"W2", "W3"}:
            # windows no member rule may emit are dropped before the
            # aggregation, so a batch with nothing to emit aggregates nothing
            sb = F.element_at(_shape_bounds(shapes, bounds), self.sid1)
            w23 = keyed.select(*self.w23_in).filter(
                _in_bounds(self.w23_end, sb["after"], sb["until"])
            )
            if self.salt_buckets:
                w23 = w23.groupBy(*self.group_cols, "_salt").agg(*self.salted_aggs)
            grouped = w23.groupBy(*self.group_cols).agg(*self.w23_aggs)
            parts.append(grouped.select(*self.w23_out))
        rows = reduce(lambda a, b: a.unionByName(b), parts)
        members = F.inline(F.element_at(_rule_metas(shapes, bounds), self.sid1))
        return rows.select(*_BRANCH_COLS, members).filter(self.member_ok).select(
            *self.expanded
        )


def evaluate_rules_grouped(
    events: DataFrame,
    rules: list[Rule],
    ts_col: str = "ts",
    salt_buckets: int | None = None,
    emit_bounds: dict[int, tuple[int | None, int | None]] | None = None,
    plans: dict | None = None,
) -> DataFrame:
    """Evaluate every ACTIVE rule over ``events`` with O(#modes) scans
    (ONE scan + ONE shuffle when all rules are W2/W3) and O(#shapes)
    aggregation work. Output schema and values match
    ``rules.compiler.evaluate_rules`` exactly.

    ``emit_bounds`` maps a query_id to ``(after, until)`` in epoch ms:
    only that rule's rows with ``after < window_end <= until`` are
    returned (``None`` = unbounded on that side; absent rules are
    unbounded). The bounds are data of the folded literals, so plans
    that differ only in bounds share their compiled classes.

    ``plans`` is the caller's memo of ``RuleSetPlan``: pass the same
    dict on every call and a rule set whose shapes, aggregates and
    event schema are unchanged reuses its Columns. It holds one plan;
    a changed rule set or schema replaces it.

    Rules must be pre-validated with ``validate_rule_fields`` — unknown
    fields here would aggregate nulls instead of raising.

    ``salt_buckets`` spreads each hot (shape, key, window) group over N
    sub-groups before the final merge (two-phase salted aggregation,
    operators/warehouse.salted_agg pattern). Spark's map-side partial
    aggregation already bounds reducer input to one partial per map
    task, so salting only matters at extreme fan-in (tens of thousands
    of map tasks hammering one composite key); results are identical up
    to float summation order for SUM/AVG.
    """
    active = [r for r in rules if r.query_state is RuleState.ACTIVE]
    if not active:
        raise ValueError("no ACTIVE rules")
    shapes = group_shapes(active)
    used = {_agg_fn(r) for r in active}
    key = (
        tuple(shape_key(rep) for _, rep, _ in shapes),
        frozenset(used),
        tuple(events.dtypes),
        ts_col,
        salt_buckets,
    )
    plan = plans.get(key) if plans is not None else None
    if plan is None:
        plan = RuleSetPlan(events, shapes, used, ts_col, salt_buckets)
        if plans is not None:
            plans.clear()
            plans[key] = plan
    bounds = {
        r.query_id: (emit_bounds or {}).get(r.query_id, (None, None)) for r in active
    }
    return plan.evaluate(events, shapes, bounds)
