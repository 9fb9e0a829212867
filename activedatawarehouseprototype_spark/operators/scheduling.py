"""Scheduling-scope helper for iterative operators.

At 100 TB the data plane dominates and AQE earns its keep (skew
splits, partition coalescing). At the other end — the per-round jobs
of an iterative loop over a frame the loop itself has MEASURED to fit
one shuffle partition — AQE only adds cost: every exchange is
materialized as a separately-submitted stage-job, and broadcast
planning adds a build-side collect job per join. The round-11 scaling
study showed the expensive bench entries are exactly this:
scheduling-bound (8-core vs 32-core ratio <= 1 — job submission, not
data). Measured on a 402-edge label-prop graph: 7-8 jobs per
iteration with AQE on, 1 job with this scope active, identical
labels.

``single_partition_loop`` scopes the fix to the loop body and ONLY
when the caller's own edge-count measurement picked ``n_parts == 1``:

- AQE off — partition coalescing and skew splitting are
  definitionally no-ops on one partition, so the only observable
  effect of AQE inside the loop is one job per exchange;
- ``spark.sql.shuffle.partitions = 1`` — the loop's own parallelism
  decision, applied to the exchanges AQE would otherwise coalesce;
- broadcast threshold -1 — a sort-merge/shuffled-hash join over one
  partition pipelines into the same single stage, while a broadcast
  join pays a separate build-side job per join per round.

The previous config values are restored in ``finally``, so the scope
cannot leak into the data-plane queries around the loop. Frames
checkpointed inside the scope stay valid after restore (the RDD is
already cached); frames merely PLANNED inside but first executed
after restore would plan under the restored config — callers
materialize inside the scope (every loop here counts per round).
"""

from __future__ import annotations

from contextlib import contextmanager

_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
)


@contextmanager
def single_partition_loop(spark, n_parts: int):
    """No-op unless ``n_parts == 1`` (the caller's measured choice for
    a tiny frame); then pins single-partition non-adaptive scheduling
    for the scope. Yields True when active.

    Single-driver-thread contract: the scope sets SESSION-GLOBAL SQL
    conf, so while it is active no other thread may plan a query on
    the same session — that query would run with AQE off, one shuffle
    partition and no broadcast joins, and a scope restored by another
    thread could switch the loop's own conf back mid-loop."""
    if n_parts != 1:
        yield False
        return
    conf = spark.conf
    saved = {k: conf.get(k) for k in _KEYS}
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "1")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield True
    finally:
        for k, v in saved.items():
            conf.set(k, v)
