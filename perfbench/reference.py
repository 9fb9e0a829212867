"""Reference answers for the stream workloads, computed by DuckDB from
the generated events with ``rules.sql_gen.rule_to_sql``.

A window is expected once the final event-time watermark (the largest
event time ingested) closes it; a per-event (W1) row is expected for
every matching event. Each expected row also gets the batch that
should emit it, so a mismatch is charged to one micro-batch.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from activedatawarehouseprototype_spark.rules.model import Rule
from activedatawarehouseprototype_spark.rules.sql_gen import rule_to_sql

KEY = ["rid", "key", "window_start_ms", "window_end_ms", "occ"]


class EventTable:
    """The generated events of the processed batches, as one DuckDB
    table with a ``batch`` column; ``close_ms[j]`` is the event-time
    watermark after batch ``j``."""

    def __init__(self, columns: dict[str, np.ndarray], batch: np.ndarray, ts_col: str):
        self.ts_col = ts_col
        frame = pd.DataFrame(columns)
        frame["batch"] = batch.astype(np.int32)
        self.n_batches = int(batch.max()) + 1
        ts_ms = frame[ts_col].to_numpy().astype("datetime64[ms]").astype(np.int64)
        self.close_ms = np.maximum.accumulate(
            np.array([ts_ms[batch == j].max() for j in range(self.n_batches)])
        )
        self.numeric = {c for c in columns if c != ts_col}
        self.con = duckdb.connect()
        self.con.register("events_df", frame)
        self.con.execute("CREATE TABLE events AS SELECT * FROM events_df")
        self.con.unregister("events_df")

    def close(self) -> None:
        self.con.close()

    def expected(
        self,
        rule_json: dict,
        rid: str,
        first_batch: int = 0,
        last_batch: int | None = None,
        floor_ms: int | None = None,
        where: str | None = None,
    ) -> pd.DataFrame:
        """Rows ``rule_json`` must emit while active in batches
        ``first_batch..last_batch`` over events matching ``where``;
        ``floor_ms`` drops windows ending at or below it (the pipeline's
        emission floor for a rule that enters mid-stream)."""
        rule = Rule.from_dict(rule_json)
        last = self.n_batches - 1 if last_batch is None else last_batch
        table = "events" if where is None else f"(SELECT * FROM events WHERE {where}) AS ev"
        sql = rule_to_sql(rule, table=table, ts_col=self.ts_col, numeric_cols=self.numeric)
        out = self.con.execute(sql).df()
        out = out[out["window_end_ms"] <= self.close_ms[last]]
        if floor_ms is not None:
            out = out[out["window_end_ms"] > floor_ms]
        # the batch whose watermark first reaches the window end emits
        # it (W1 rows: the batch holding the event itself)
        emit = np.searchsorted(self.close_ms, out["window_end_ms"].to_numpy(), "left")
        return out.assign(batch=np.maximum(emit, first_batch), rid=rid)

    def fired_keys(self, frame: pd.DataFrame) -> dict[str, int]:
        """key -> first batch in which a fired row of ``frame`` emits."""
        fired = frame[frame["fired"]]
        return fired.groupby("key")["batch"].min().to_dict()


def read_evaluations(path: str) -> pd.DataFrame:
    """The pipeline's evaluation sink, with window bounds in epoch ms
    and the ``batch`` that wrote each row."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    frame = table.to_pandas()
    for c in ("window_start", "window_end"):
        col = frame[c]
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        frame[c + "_ms"] = col.astype("datetime64[ms]").astype(np.int64)
    return frame.drop(columns=["window_start", "window_end"])


def compare(actual: pd.DataFrame, expected: pd.DataFrame) -> set[int]:
    """Batches whose emitted rows differ from the reference: a missing
    row, an extra row, a different aggregate (relative 1e-9) or a
    different fired flag. Repeated identical per-event rows are matched
    by occurrence."""
    cols = ["rid", "key", "window_start_ms", "window_end_ms", "agg_value", "fired", "batch"]
    a = actual[cols].copy()
    e = expected[cols].copy()
    for f in (a, e):
        f.sort_values(cols[:5], inplace=True, kind="stable")
        f["occ"] = f.groupby(KEY[:4]).cumcount()
    m = a.merge(e, on=KEY, how="outer", suffixes=("_a", "_e"), indicator=True)
    both = m["_merge"] == "both"
    close = np.isclose(m["agg_value_a"], m["agg_value_e"], rtol=1e-9, atol=1e-9)
    same_fired = m["fired_a"].astype(object) == m["fired_e"].astype(object)
    bad = m[~(both & close & same_fired)]
    return {int(b) for b in bad["batch_a"].fillna(bad["batch_e"])}
