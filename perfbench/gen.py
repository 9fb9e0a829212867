"""Seeded inputs for the two workloads.

The seed changes values, hot cars and dirty rows; it never changes
sizes, rule shapes or batch indices, so every seed runs the same
amount of work. The program under test only sees the files written
here; the in-memory copies feed the DuckDB reference checks.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- eca_loop ------------------------------------------------------------

ECA_CARS = 500
ECA_EVENTS_PER_FILE = 10_000
ECA_FILE_SPAN_S = 20  # event-time seconds covered by one file (one batch)
ECA_DIRTY_FRAC = 0.01
# local wall time of the first event, as the reference's feed prints it
# (UTC+8); the parser subtracts the 8 h offset
ECA_BASE_LOCAL = np.datetime64("2016-08-03T10:00:00", "s")
ECA_DIRTY_DATES = ("2010-01-01", "2016-08-01", "2016-08-02")
ECA_PARENT_CARS = 24  # cars the spawning parent watches
ECA_HOT_CARS = 3  # cars that speed in file 0, one child each
RULE_ARRIVES_AT = 1  # batch index whose poll delivers the new rule
RULE_DELETED_AT = 1  # batch index whose poll deletes the global rule


@dataclass
class CarFile:
    """One text file of SHCarRide lines plus the clean events in it."""

    lines: list[str]
    car: np.ndarray  # int32
    ts_s: np.ndarray  # int64 epoch seconds (UTC) of clean rows
    speed: np.ndarray  # float32 as the parser reads it


def eca_rules() -> dict[str, dict]:
    """Wire rules of eca_loop. ``parent`` spawns one MAX-speed child per
    speeding car it watches. None of them is wider than the standing
    60 s rule, which never leaves, so the buffer horizon is fixed for
    the whole run."""
    child = {
        "queryId": 900,
        "queryState": "ACTIVE",
        "lastTime": -1,
        "windowMilliseconds": 5_000,
        "frequencyMilliseconds": None,
        "groupingKeyNames": ["$carId"],
        "windowFilterRules": [],
        "aggregatorFunctionType": "MAX",
        "limitOperatorType": ">",
        "limit": 150.55,
        "aggregateFieldName": "speed",
    }

    def rule(qid, w, f, keys, filters, agg, op, limit, alert_rules=()):
        return {
            "queryId": qid,
            "queryState": "ACTIVE",
            "lastTime": -1,
            "windowMilliseconds": w,
            "frequencyMilliseconds": f,
            "groupingKeyNames": keys,
            "windowFilterRules": filters,
            "aggregatorFunctionType": agg,
            "limitOperatorType": op,
            "limit": limit,
            "aggregateFieldName": "speed",
            "alertRules": list(alert_rules),
        }

    return {
        "parent": rule(
            1, 10_000, None, ["carId"],
            [{"field": "carId", "operator": "<", "value": str(ECA_PARENT_CARS)}],
            "AVG", ">", 117.37, [child],
        ),
        "sliding": rule(
            2, 30_000, 10_000, ["carId"],
            [{"field": "speed", "operator": ">", "value": "60"}],
            "SUM", ">", 1234.567,
        ),
        "per_event": rule(
            3, 5_000, 0, ["carId"],
            [{"field": "carId", "operator": "<", "value": "10"}],
            "MAX", ">", 99.95,
        ),
        "global": rule(4, 10_000, None, [], [], "AVG", ">", 50.123),
        "arriving": rule(
            5, 5_000, None, ["carId"],
            [{"field": "speed", "operator": "<", "value": "5"}],
            "MIN", "<", 0.35,
        ),
    }


def standing_rules() -> list[dict]:
    """Wire rules that stand for the whole stream, beside the ECA rules:
    four shapes (W2 10 s keyed, W2 60 s global, W3 30 s/10 s keyed, W1
    5 s keyed), each under four aggregators. With them the wire cohort
    holds more than ``ActivePipeline.grouped_min_rules`` rules and takes
    the grouped evaluator, while the spawned children, a cohort of
    three, keep the per-rule path. Keyed shapes watch a band of cars;
    thresholds sit off the 0.1 speed grid and a few percent fire."""
    shapes = [
        (10_000, None, ["carId"], [("carId", ">=", "100"), ("carId", "<", "140")]),
        (60_000, None, [], [("speed", ">", "40")]),
        (30_000, 10_000, ["carId"], [("carId", ">=", "200"), ("carId", "<", "220")]),
        (5_000, 0, ["carId"], [("carId", ">=", "300"), ("carId", "<", "305")]),
    ]
    # aggregator -> (keyed limit, global limit)
    limits = {
        "AVG": (65.013, 70.0137),
        "MAX": (99.45, 159.95),
        "SUM": (700.123, 2_460_000.123),
        "MIN": (0.45, 40.05),
    }
    rules = []
    for s, (w, f, keys, filt) in enumerate(shapes):
        for a, (agg, (keyed, glob)) in enumerate(limits.items()):
            rules.append({
                "queryId": 100 + 4 * s + a,
                "queryState": "ACTIVE",
                "lastTime": -1,
                "windowMilliseconds": w,
                "frequencyMilliseconds": f,
                "groupingKeyNames": keys,
                "windowFilterRules": [
                    {"field": fld, "operator": op, "value": v} for fld, op, v in filt
                ],
                "aggregatorFunctionType": agg,
                "limitOperatorType": "<" if agg == "MIN" else ">",
                "limit": keyed if keys else glob,
                "aggregateFieldName": "speed",
            })
    return rules


class EcaInputs:
    """Generates eca_loop's car files on demand (file ``i`` is batch
    ``i``); event time rises strictly from file to file."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 1])
        self.hot = rng.choice(ECA_PARENT_CARS, ECA_HOT_CARS, replace=False)
        self.files: list[CarFile] = []

    def hot_cars(self, i: int) -> np.ndarray:
        # every hot car speeds in file 0 (one spawn each); afterwards one
        # of them speeds per file, so the parent fires again but the
        # throttle refuses the duplicate spawn
        return self.hot if i == 0 else self.hot[[i % ECA_HOT_CARS]]

    def make(self, i: int) -> CarFile:
        assert i == len(self.files), "car files are generated in order"
        rng = np.random.default_rng([self.seed, 2, i])
        n = ECA_EVENTS_PER_FILE
        car = rng.integers(0, ECA_CARS, n).astype(np.int32)
        t0 = ECA_BASE_LOCAL + np.timedelta64(i * ECA_FILE_SPAN_S, "s")
        local = t0 + rng.integers(0, ECA_FILE_SPAN_S, n).astype("timedelta64[s]")
        speed = np.round(rng.uniform(0, 100, n), 1)
        hot = np.isin(car, self.hot_cars(i))
        speed = np.where(hot, np.round(rng.uniform(125, 160, n), 1), speed)
        # "yyyy-MM-dd HH:mm:ss"; a dirty row keeps its clock time but
        # carries one of the dates the source drops
        stamp = np.char.replace(np.datetime_as_string(local, unit="s"), "T", " ")
        dirty = rng.random(n) < ECA_DIRTY_FRAC
        dirty_date = np.array(ECA_DIRTY_DATES)[rng.integers(0, 3, n)]
        stamp = [d + s[10:] if bad else s for s, d, bad in zip(stamp, dirty_date, dirty)]
        lon = np.round(rng.uniform(121.0, 122.0, n), 6)
        lat = np.round(rng.uniform(31.0, 32.0, n), 6)
        angle = rng.integers(0, 360, n)
        lines = [
            f"{c:05d}|A|0|1|1|0|0|0|{s}|{s}|{lo:.6f}|{la:.6f}|{v:.1f}|{a}.0|6|000"
            for c, s, lo, la, v, a in zip(car, stamp, lon, lat, speed, angle)
        ]
        clean = ~dirty
        utc_s = (local - np.timedelta64(8, "h")).astype("int64")
        f = CarFile(
            lines=lines,
            car=car[clean],
            ts_s=utc_s[clean],
            speed=speed[clean].astype(np.float32),
        )
        self.files.append(f)
        return f

    def write(self, i: int, path: str, mtime: float) -> CarFile:
        f = self.make(i)
        with open(path, "w") as fh:
            fh.write("\n".join(f.lines) + "\n")
        os.utime(path, (mtime, mtime))
        return f


# -- corpus_core ---------------------------------------------------------

CORPUS_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "green", "steel", "brass", "tiny"]
_PART_NOUN = ["ring", "widget", "bolt", "anvil", "gear", "valve", "spring", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash line sort "
    "window batch spark order data column join small big customer query "
    "merge stream group filter vector"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, stop, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def write_corpus(seed: int, sf_dir: str) -> None:
    """Star-schema tables plus events/documents/embeddings, with the
    column names and types of the repo's parquet fixtures (sf0.01 row
    counts). Timestamps are tz-naive microseconds, as in the fixtures."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    n = CORPUS_ROWS
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n["customer"])],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), i64),
            "p_name": np.char.add(
                np.char.add(np.array(_PART_ADJ)[rng.integers(0, 8, n["part"])], " "),
                np.array(_PART_NOUN)[rng.integers(0, 8, n["part"])],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, 1_000, 500_000, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n["orders"])],
        }),
    }
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        # whole dollars: price * (1 - discount) then has two decimals,
        # so the corpus's ROUND(SUM(...), 2) never sits on a half-cent
        # boundary where Spark and DuckDB round differently
        "l_extendedprice": rng.integers(900, 105_000, m).astype(np.float64),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = n["events"]
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(start_us, start_us + 30 * 86_400 * 10**6, e))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.clip(np.round(rng.exponential(50.0, e), 2), 0.01, None),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(k))])
        for k in rng.integers(10, 100, d)
    ]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, d, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.8, (v, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
