"""End-to-end engine lifecycle: config → run → ledger → aggregate → gate.

Mirrors the reference's manual-E2E oracle strategy (SURVEY.md §5):
deterministic source/target pairs with known corruption, task verdicts
asserted exactly.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from datapact_spark.config import DataPactConfig, ValidationTask
from datapact_spark.engine import DataPactEngine, DataPactValidationError
from datapact_spark.sources.loader import TableResolver


@pytest.fixture()
def engine(spark, tables, tmp_path):
    resolver = TableResolver(spark)
    resolver.register("orders", tables["orders"])
    resolver.register("orders_sample", tables["orders"].where(F.col("o_orderkey") % 10 != 0))
    resolver.register("customer", tables["customer"])
    resolver.register("lineitem", tables["lineitem"])
    return DataPactEngine(spark, resolver, results_path=str(tmp_path / "results"))


def test_identical_tables_pass(engine):
    config = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="orders_self",
                source="orders",
                target="orders",
                primary_keys=["o_orderkey"],
                count_tolerance=0.0,
                pk_row_hash_check=True,
                pk_hash_tolerance=0.0,
                null_validation_columns=["o_custkey"],
                null_validation_tolerance=0.0,
                agg_validations=[
                    {
                        "column": "o_totalprice",
                        "validations": [{"agg": "SUM", "tolerance": 0.0}],
                    }
                ],
                uniqueness_columns=["o_orderkey"],
                uniqueness_tolerance=0.0,
                business_priority="Critical",
            )
        ]
    )
    result = engine.run(config, job_name="t")
    assert result.passed
    payload = json.loads(result.outcomes["orders_self"].payload)
    assert payload["count_validation"]["status"] == "PASS"
    assert payload["row_hash_validation"]["status"] == "PASS"
    assert payload["row_hash_validation"]["mismatch_count"] == "0"
    assert payload["null_validation_o_custkey"]["status"] == "PASS"
    assert payload["agg_validation_o_totalprice_SUM"]["status"] == "PASS"
    assert payload["uniqueness_validation_o_orderkey"]["status"] == "PASS"


def test_degraded_target_fails_count(engine):
    config = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="orders_vs_sample",
                source="orders",
                target="orders_sample",
                count_tolerance=0.01,  # ~10% of rows dropped > 1% tolerance
                business_priority="High",
                estimated_impact_usd=1000.0,
            )
        ]
    )
    result = engine.run(config, job_name="t")
    assert result.failed_task_keys == ["orders_vs_sample"]
    payload = json.loads(result.outcomes["orders_vs_sample"].payload)
    assert payload["count_validation"]["status"] == "FAIL"
    # tolerance formatting contract: '%.2f%%'
    assert payload["count_validation"]["tolerance_percent"] == "1.00%"


def test_raise_on_failure_gate(engine):
    config = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="gate",
                source="orders",
                target="orders_sample",
                count_tolerance=0.0,
            )
        ]
    )
    with pytest.raises(DataPactValidationError) as err:
        engine.run(config, job_name="t", raise_on_failure=True)
    assert "gate" in str(err.value)


def test_ledger_and_exec_summary(engine, spark):
    config = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="a_pass",
                source="orders",
                target="orders",
                count_tolerance=0.0,
                business_domain="Sales",
                business_priority="Critical",
                estimated_impact_usd=500.0,
            ),
            ValidationTask(
                task_key="b_fail",
                source="orders",
                target="orders_sample",
                count_tolerance=0.0,
                business_domain="Sales",
                business_priority="Critical",
                estimated_impact_usd=250.0,
            ),
        ]
    )
    result = engine.run(config, job_name="ledger_job", run_id=777)
    ledger = engine.ledger.run_results(777)
    rows = {r["task_key"]: r for r in ledger.collect()}
    assert rows["a_pass"]["status"] == "SUCCESS"
    assert rows["b_fail"]["status"] == "FAILURE"
    assert rows["b_fail"]["job_name"] == "ledger_job"

    summary = engine.ledger.read_exec_table("exec_run_summary").collect()[0]
    assert summary["total_tasks"] == 2
    assert summary["failure_count"] == 1
    assert summary["success_rate_percent"] == 50.0
    assert summary["critical_failures"] == 1
    assert summary["realized_impact_usd"] == 250.0
    assert summary["failed_task_keys"] == ["b_fail"]
    assert not result.passed


def test_no_checks_vacuous_pass(engine):
    config = DataPactConfig(
        validations=[ValidationTask(task_key="noop", source="orders", target="orders")]
    )
    result = engine.run(config, job_name="t")
    assert result.passed
    payload = json.loads(result.outcomes["noop"].payload)
    assert "No validations configured" in payload["message"]


def test_local_frame_matches_create_dataframe(spark):
    """``ledger.local_frame`` converts rows exactly as
    ``createDataFrame(rows, LEDGER_SCHEMA)`` does — Rows and tuples by
    position, dicts by name, naive timestamps as local time — and plans
    as a ``LocalTableScan`` instead of a pickled ``Scan ExistingRDD``."""
    import datetime as dt
    import time

    from pyspark.sql import Row

    from datapact_spark.ledger import LEDGER_SCHEMA, local_frame

    ts = dt.datetime(2026, 3, 29, 1, 30, 5, 123456)
    old_end = dt.datetime(1999, 12, 31, 23, 59, 59, 999999)
    full = (
        "k", "SUCCESS", 2**50, 7, "j", ts, ts, old_end, None, "s", "t", None,
        None, "x", "Sales", "o", "CRITICAL", 1.25, float("nan"), '{"a": "é"}',
    )
    names = [f.name for f in spark.createDataFrame([], LEDGER_SCHEMA).schema]
    rows = [
        Row(**dict(zip(names, full))),
        tuple([None] * len(names)),
        {"task_key": "dict", "run_id": 3, "validation_begin_ts": ts},
    ]
    stamps = ["job_start_ts", "validation_begin_ts", "validation_complete_ts"]
    tz_before = os.environ.get("TZ")
    try:
        for tz in ("UTC", "America/New_York"):
            os.environ["TZ"] = tz
            time.tzset()
            new = local_frame(spark, rows)
            old = spark.createDataFrame(rows, LEDGER_SCHEMA)
            plan = new._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan
            assert new.schema == old.schema
            got, want = new.collect(), old.collect()
            for g, w in zip(got, want, strict=True):
                for c in names:
                    assert str(g[c]) == str(w[c]), (tz, c)
            micros = [F.unix_micros(c).alias(c) for c in stamps]
            assert new.select(*micros).collect() == old.select(*micros).collect()
    finally:
        if tz_before is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = tz_before
        time.tzset()
    assert local_frame(spark, []).count() == 0


def test_engine_ledger_frame_is_local_relation(engine, spark, monkeypatch):
    """The frame ``engine.run`` appends is a local relation built from
    the verdict rows, equal, column for column, to what
    ``createDataFrame(rows, LEDGER_SCHEMA)`` gave for the same rows."""
    import datapact_spark.engine as engine_mod
    from datapact_spark.ledger import LEDGER_SCHEMA, ResultsLedger

    captured = {}
    build = engine_mod.local_frame

    def record_rows(spark_, rows, *args):
        captured["rows"] = list(rows)
        return build(spark_, rows, *args)

    append = ResultsLedger.append

    def record_frame(self, df):
        captured["plan"] = df._jdf.queryExecution().executedPlan().toString()
        captured["df"] = df
        append(self, df)

    monkeypatch.setattr(engine_mod, "local_frame", record_rows, raising=False)
    monkeypatch.setattr(ResultsLedger, "append", record_frame)
    config = DataPactConfig(
        validations=[
            ValidationTask(task_key="same", source="orders", target="orders",
                           count_tolerance=0.0, business_domain="Sales"),
            ValidationTask(task_key="fewer", source="orders", target="orders_sample",
                           count_tolerance=0.0),
        ]
    )
    engine.run(config, job_name="local", run_id=778)
    assert "LocalTableScan" in captured["plan"]
    assert "ExistingRDD" not in captured["plan"]
    old = spark.createDataFrame(captured["rows"], LEDGER_SCHEMA).collect()
    new = captured["df"].collect()
    assert [r.asDict() for r in new] == [r.asDict() for r in old]
    for r in new:
        for c in ("job_start_ts", "validation_begin_ts", "validation_complete_ts"):
            assert r[c] is not None
    # the exec tables derive from the same rows
    summary = engine.ledger.read_exec_table("exec_run_summary").collect()[0]
    assert (summary["total_tasks"], summary["failed_task_keys"]) == (2, ["fewer"])
