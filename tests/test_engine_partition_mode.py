"""Engine-level per-partition mode: a partition_by task folds group
verdicts into its payload and fails when any group fails; genie tables
and violation materialization round-trip through the ledger."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datapact_spark import aggregate as agg
from datapact_spark.config import ConstraintCheck, DataPactConfig, ValidationTask
from datapact_spark.engine import DataPactEngine
from datapact_spark.sources.codegen import corrupt_code_table, synthesize_code_table
from datapact_spark.sources.loader import TableResolver


@pytest.fixture()
def engine(spark, tmp_path):
    src = synthesize_code_table(spark, 5000, n_repos=8, seed=11)
    tgt = corrupt_code_table(src, mutate_every=200)
    resolver = TableResolver(spark)
    resolver.register("code_src", src)
    resolver.register("code_tgt", tgt)
    return DataPactEngine(spark, resolver, results_path=str(tmp_path / "res"))


def test_partition_by_task_fails_and_reports_groups(engine):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="code_check",
                source="code_src",
                target="code_tgt",
                primary_keys=["repo", "path"],
                partition_by=["repo", "lang"],
                count_tolerance=0.0,
                pk_row_hash_check=True,
                hash_columns=["content"],
                hash_algo="sha256",
            )
        ]
    )
    res = engine.run(cfg, job_name="pp", run_id=42)
    assert res.outcomes["code_check"].status == "FAILURE"
    p = json.loads(res.outcomes["code_check"].payload)
    pv = p["partition_verdicts"]
    assert pv["partition_by"] == ["repo", "lang"]
    assert pv["failed_groups"] > 0
    assert pv["total_groups"] >= pv["failed_groups"]
    assert pv["sample_failed_keys"] and "repo" in pv["sample_failed_keys"][0]
    # verdicts are checkpointed on disk for resume/inspection
    vdf = engine.run_partitioned(
        ValidationTask(
            task_key="code_check", source="code_src", target="code_tgt",
            primary_keys=["repo", "path"], partition_by=["repo", "lang"],
            count_tolerance=0.0, pk_row_hash_check=True,
            hash_columns=["content"], hash_algo="sha256",
        ),
        run_id=42, resume=True,
    )
    assert vdf.count() == pv["total_groups"]


def test_partition_by_identical_passes(engine):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="self", source="code_src", target="code_src",
                partition_by=["repo"], count_tolerance=0.0,
            )
        ]
    )
    res = engine.run(cfg, job_name="pp2")
    assert res.outcomes["self"].status == "SUCCESS"
    p = json.loads(res.outcomes["self"].payload)
    assert p["partition_verdicts"]["failed_groups"] == 0


def _fingerprint_constraint_task() -> ValidationTask:
    """Fingerprint row-hash mode plus a folded constraint: the shape for
    which the verdict compiler persists its joined per-group profile."""
    return ValidationTask(
        task_key="fp_con", source="code_src", target="code_tgt",
        primary_keys=["repo", "path"], partition_by=["repo", "lang"],
        count_tolerance=0.0, pk_row_hash_check=True,
        hash_columns=["content"], hash_algo="sha256",
        row_hash_mode="fingerprint",
        uniqueness_columns=["repo", "path"], uniqueness_tolerance=0.0,
        constraint_checks=[
            ConstraintCheck(name="content_present", predicate="length(content) > 0")
        ],
    )


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_fingerprint_constraint_task_runs_and_releases_cache(engine, spark):
    """The partitioned verdicts of a fingerprint + constraint task must
    fold into the payload (not crash into ERROR while releasing the
    joined-profile persist), and the run must leave nothing pinned."""
    before = _n_persistent_rdds(spark)
    res = engine.run(
        DataPactConfig(validations=[_fingerprint_constraint_task()]),
        job_name="fp", run_id=91,
    )
    out = res.outcomes["fp_con"]
    assert out.status != "ERROR", out.error
    assert "partition_verdicts" in json.loads(out.payload)
    assert _n_persistent_rdds(spark) == before


def test_plan_leaves_no_cache_entry(engine, spark):
    """``plan`` only explains: the joined-profile persist the verdict
    compiler registers must not outlive it in Spark's CacheManager."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_manager.isEmpty()
    plans = engine.plan(DataPactConfig(validations=[_fingerprint_constraint_task()]))
    assert "Per-partition verdict plan" in plans["fp_con"]
    assert cache_manager.isEmpty()


def test_violation_materialization(engine, spark):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="viol",
                source="code_src",
                target="code_tgt",
                primary_keys=["repo", "path"],
                pk_row_hash_check=True,
                hash_columns=["content"],
                hash_algo="sha256",
                materialize_violations=True,
            )
        ]
    )
    res = engine.run(cfg, job_name="v", run_id=77)
    base = os.path.join(engine.ledger.path, "violations", "run_id=77", "viol", "row_hash")
    assert os.path.exists(base)
    vrows = spark.read.parquet(base)
    assert vrows.count() > 0
    assert {"repo", "path", "source_hash", "target_hash"} <= set(vrows.columns)
    # every violation is a truly mutated row
    sample = vrows.limit(5).collect()
    for r in sample:
        assert r["source_hash"] != r["target_hash"]


def test_genie_tables(engine, spark):
    cfg = DataPactConfig(
        validations=[
            ValidationTask(
                task_key="g1", source="code_src", target="code_tgt",
                primary_keys=["repo", "path"], count_tolerance=0.0,
                pk_row_hash_check=True, hash_columns=["content"],
                business_priority="Critical",
            ),
            ValidationTask(
                task_key="g2", source="code_src", target="code_src",
                count_tolerance=0.0,
            ),
        ]
    )
    engine.run(cfg, job_name="genie", run_id=5)
    engine.run(cfg, job_name="genie", run_id=6)  # second run
    ledger = engine.ledger.read()

    cur = {r["task_key"]: r for r in agg.genie_current_status(ledger).collect()}
    assert set(cur) == {"g1", "g2"}
    assert cur["g1"]["run_id"] == 6  # latest run wins
    assert cur["g1"]["status"] == "FAILURE" and cur["g2"]["status"] == "SUCCESS"

    quality = {r["table_fqn"]: r for r in agg.genie_table_quality(ledger).collect()}
    assert quality["code_tgt"]["failed_validations"] == 2  # two runs
    assert quality["code_src"]["success_rate_percent"] == 100.0

    issues = agg.genie_issues(ledger).collect()
    assert issues and all(i["task_key"] == "g1" for i in issues)
    assert any(i["check_type"] == "row_hash" for i in issues)


def _violation_task(task_key: str = "viol", **extra) -> ValidationTask:
    return ValidationTask(**{
        "task_key": task_key, "source": "code_src", "target": "code_tgt",
        "primary_keys": ["repo", "path"], "pk_row_hash_check": True,
        "hash_columns": ["content"], "hash_algo": "sha256",
        "uniqueness_columns": ["repo", "path"], "uniqueness_tolerance": 0.0,
        "materialize_violations": True, **extra,
    })


def test_sinks_run_on_their_own_threads_with_task_tags(engine, spark, monkeypatch):
    """A task's violation writes run on threads other than the task
    thread; each inherits the task's FAIR pool and tags its jobs with
    its own description. The run tail is tagged ``:ledger``, and the
    caller's description is left as it was."""
    import threading

    import datapact_spark.engine as engine_mod
    from datapact_spark.ledger import ResultsLedger

    sc = spark.sparkContext
    seen: list[tuple[str, int, str, str]] = []
    task_threads: set[int] = set()

    def record(name):
        seen.append((
            name, threading.get_ident(),
            sc.getLocalProperty("spark.scheduler.pool"),
            sc.getLocalProperty("spark.job.description"),
        ))

    compile_task = engine_mod.compile_task

    def compile_on_task_thread(*args, **kwargs):
        task_threads.add(threading.get_ident())
        return compile_task(*args, **kwargs)

    write_violations = ResultsLedger.write_violations

    def recorded_violations(self, run_id, task_key, kind, df):
        record(f"violations/{kind}")
        write_violations(self, run_id, task_key, kind, df)

    write_exec_table = ResultsLedger.write_exec_table

    def recorded_exec_table(self, name, df, run_id):
        record(name)
        write_exec_table(self, name, df, run_id)

    append = ResultsLedger.append

    def recorded_append(self, df):
        record("append")
        append(self, df)

    monkeypatch.setattr(engine_mod, "compile_task", compile_on_task_thread)
    monkeypatch.setattr(ResultsLedger, "write_violations", recorded_violations)
    monkeypatch.setattr(ResultsLedger, "write_exec_table", recorded_exec_table)
    monkeypatch.setattr(ResultsLedger, "append", recorded_append)
    sc.setJobDescription("caller")
    try:
        res = engine.run(
            DataPactConfig(validations=[_violation_task()]), job_name="t", run_id=78
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert res.outcomes["viol"].status == "FAILURE", res.outcomes["viol"].error

    writes = [s for s in seen if s[0].startswith("violations/")]
    assert {w[0] for w in writes} == {
        "violations/row_hash", "violations/uniqueness_source",
        "violations/uniqueness_target",
    }
    assert len(task_threads) == 1
    for name, thread, pool, description in writes:
        assert thread not in task_threads
        assert pool == "datapact_viol"
        assert description == f"datapact:78:viol:{name}"
    assert len({w[1] for w in writes}) == len(writes)

    tail = {name: description for name, _, _, description in seen
            if not name.startswith("violations/")}
    assert tail.pop("append") == "datapact:78:ledger"
    assert tail == {
        name: f"datapact:78:ledger:{name}"
        for name in ("exec_run_summary", "exec_domain_breakdown",
                     "exec_owner_breakdown", "exec_priority_breakdown")
    }


def test_failing_sink_errors_its_task_only(engine, spark, monkeypatch):
    """A sink that raises leaves its task in ERROR with that error; the
    sibling's outcome is what it is without the failure, the other sinks
    still finish, and nothing stays in Spark's CacheManager."""
    from datapact_spark.ledger import ResultsLedger

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    cfg = DataPactConfig(validations=[
        _violation_task(partition_by=["repo", "lang"]),
        _violation_task("sibling", materialize_violations=False),
    ])
    baseline = engine.run(cfg, job_name="ok", run_id=80).outcomes["sibling"]

    write_violations = ResultsLedger.write_violations

    def failing(self, run_id, task_key, kind, df):
        if kind == "uniqueness_source":
            raise RuntimeError("violation sink down")
        write_violations(self, run_id, task_key, kind, df)

    monkeypatch.setattr(ResultsLedger, "write_violations", failing)
    spark.catalog.clearCache()
    res = engine.run(cfg, job_name="broken", run_id=81)
    broken = res.outcomes["viol"]
    assert broken.status == "ERROR"
    assert broken.error == "violation sink down"
    sibling = res.outcomes["sibling"]
    assert (sibling.status, sibling.payload) == (baseline.status, baseline.payload)
    done = os.path.join(engine.ledger.path, "violations", "run_id=81", "viol")
    assert sorted(os.listdir(done)) == ["row_hash", "uniqueness_target"]
    assert cache_manager.isEmpty()
    # only the sibling reaches the ledger
    assert [r["task_key"] for r in engine.ledger.run_results(81).collect()] == ["sibling"]
