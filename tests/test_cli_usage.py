"""The CLI's own surface: every flag error exits before the Spark session
starts, and the two rule verbs (`eval`, `sql`) agree with each other."""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import zoneinfo

import pytest

from activedatawarehouseprototype_spark import cli, session
from tests.oracle_harness import run_oracle


def _verbs() -> list[str]:
    sub = next(
        a for a in cli._build_parser()._actions
        if isinstance(a, argparse._SubParsersAction)
    )
    return sorted(sub.choices)


@pytest.fixture()
def no_spark(monkeypatch):
    def fail(*args, **kwargs):
        pytest.fail("a usage error reached get_spark")

    monkeypatch.setattr(session, "get_spark", fail)


@pytest.mark.parametrize("verb", _verbs())
def test_verb_without_required_flags_exits_2_before_spark(no_spark, verb):
    with pytest.raises(SystemExit) as exc:
        cli.main([verb])
    assert exc.value.code == 2


RUN = ["run", "--events-dir", "e", "--rules-dir", "r", "--work-dir", "w"]


@pytest.mark.parametrize(
    "argv",
    [
        ["index-build", "--input", "i", "--index", "x", "--lattice", "--seed-only"],
        ["table", "--path", "t", "commit"],
        ["table", "--path", "t", "read"],
        ["table", "--path", "t", "rollback"],
        ["sample", "--input", "i", "--output", "o", "--key", "k", "--weights", "a=x"],
        [*RUN, "--mv-key", "k", "--mv-value", "v", "--mv-hist", "1,2"],
        [*RUN, "--drift-value", "v", "--drift-bins", "0,1,x"],
    ],
    ids=[
        "index-build --lattice --seed-only",
        "table commit without --input",
        "table read without --output",
        "table rollback without --version",
        "sample --weights a=x",
        "run --mv-hist 1,2",
        "run --drift-bins 0,1,x",
    ],
)
def test_flag_error_exits_2_before_spark(no_spark, argv):
    with pytest.raises(SystemExit) as exc:
        cli.main(argv)
    assert exc.value.code == 2


def test_run_partial_stage_exits_before_spark(no_spark, capsys):
    """A stage's required flags are all-or-none, a rule argparse cannot
    state: it exits 2 like every other flag error, naming the missing
    flag under the ``run`` usage line."""
    with pytest.raises(SystemExit) as exc:
        cli.main([*RUN, "--cusum-value", "v"])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "usage: adw-spark run" in err
    assert "--cusum-value needs --cusum-target" in err


def test_eval_fired_rows_match_sql_twin_on_duckdb(spark, sf_dir, tmp_path, capsys):
    """`sql --fired-only` prints SQL that DuckDB runs over the events
    parquet; `eval --fired-only` on the same file prints the same
    (query_id, key, window_end, agg_value) rows."""
    rule = tmp_path / "rule.json"
    rule.write_text(json.dumps({
        "queryId": 7, "queryState": "ACTIVE", "lastTime": -1,
        "windowMilliseconds": 3_600_000, "frequencyMilliseconds": None,
        "groupingKeyNames": ["user_id"], "windowFilterRules": [],
        "aggregatorFunctionType": "SUM", "limitOperatorType": ">",
        "limit": 150, "aggregateFieldName": "value",
    }))
    capsys.readouterr()
    assert cli.main(["sql", "--rule", str(rule), "--fired-only"]) == 0
    oracle = run_oracle(capsys.readouterr().out, sf_dir)
    want = sorted(
        (int(r.query_id), r.key, int(r.window_end_ms), float(r.agg_value))
        for r in oracle.itertuples()
    )
    assert want

    assert cli.main([
        "eval", "--rule", str(rule), "--events", f"{sf_dir}/events.parquet",
        "--fired-only", "--limit", str(len(want) + 10),
    ]) == 0
    captured = capsys.readouterr()
    assert captured.err.strip().splitlines()[-1] == f"{len(want)} rows"
    lines = [l for l in captured.out.splitlines() if l.startswith("|")]
    header = [c.strip() for c in lines[0].strip("|").split("|")]
    tz = zoneinfo.ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))

    def ms(s: str) -> int:
        t = dt.datetime.fromisoformat(s).replace(tzinfo=tz)
        return int(t.timestamp() * 1000)

    got = []
    for line in lines[1:]:
        row = dict(zip(header, (c.strip() for c in line.strip("|").split("|"))))
        got.append((int(row["query_id"]), row["key"], ms(row["window_end"]),
                    float(row["agg_value"])))
    got.sort()
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert all(math.isclose(g[3], w[3], rel_tol=1e-9) for g, w in zip(got, want))
