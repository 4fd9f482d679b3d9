"""Run orchestration: the Spark-native replacement for Databricks Jobs.

The reference builds a Databricks Jobs DAG — N independent SQL tasks in
parallel, then an aggregate gate (job_orchestrator.py:34-64). Here the
same shape runs inside one SparkSession:

* a thread pool runs up to ``max_parallel_tasks`` tasks at once, each in
  its own FAIR scheduler pool and ``cache_scope``;
* a task compiles to plans, then submits its independent actions (the
  sinks) together: the 1-row verdict collect, each violation write, each
  drift-baseline bootstrap and, for ``partition_by`` tasks, the
  checkpointed per-partition verdicts with their summary reads. Each sink
  runs on its own thread, inheriting the task's pool and job
  description, so the task's small jobs overlap instead of queueing;
* every job is described ``datapact:<run_id>:<task_key>[:<sink>]``, and
  the run tail ``datapact:<run_id>:ledger``;
* the tail builds the ledger rows as one JVM local relation (no Python
  worker), appends it, and derives the four exec tables from that same
  frame, written concurrently — the aggregate step of
  aggregate_results.sql.j2 without re-reading the ledger;
* ``raise_on_failure`` is the RAISE_ERROR gate (validation.sql.j2:493 /
  aggregate_results.sql.j2:223-228).
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from datapact_spark import aggregate as agg
from datapact_spark.config import DataPactConfig, ValidationTask
from datapact_spark.ledger import ResultsLedger, local_frame
from datapact_spark.plans.compiler import CompiledTask, compile_task
from datapact_spark.session import cache_scope
from datapact_spark.sources.loader import TableResolver

log = logging.getLogger("datapact_spark")

JOB_DESCRIPTION = "spark.job.description"


class DataPactValidationError(RuntimeError):
    """Raised when any validation task fails (fail-fast gate parity)."""

    def __init__(self, failed_task_keys: list[str], payloads: dict[str, str]):
        self.failed_task_keys = failed_task_keys
        self.payloads = payloads
        super().__init__(
            f"DataPact validation tasks failed: {json.dumps(failed_task_keys)}"
        )


@dataclass
class TaskOutcome:
    task_key: str
    status: str  # SUCCESS | FAILURE | ERROR
    payload: str | None
    duration_sec: float
    error: str | None = None


@dataclass
class RunResult:
    run_id: int
    job_name: str
    outcomes: dict[str, TaskOutcome] = field(default_factory=dict)

    @property
    def failed_task_keys(self) -> list[str]:
        return [k for k, o in self.outcomes.items() if o.status != "SUCCESS"]

    @property
    def passed(self) -> bool:
        return not self.failed_task_keys


class DataPactEngine:
    def __init__(
        self,
        spark: SparkSession,
        resolver: TableResolver | None = None,
        results_path: str = "/tmp/datapact_results",
    ):
        self.spark = spark
        self.resolver = resolver or TableResolver(spark)
        self.ledger = ResultsLedger(spark, results_path)
        from datapact_spark.ledger import BaselineStore

        self.baselines = BaselineStore(spark, results_path)

    # ------------------------------------------------------------ plan
    @cache_scope()
    def plan(self, config: DataPactConfig) -> dict[str, str]:
        """`datapact plan` parity (main.py:167-174): compile every task
        and return its physical plan text without executing.  Tasks with
        ``partition_by`` additionally show the per-partition verdict
        plan — the one that actually runs in partitioned mode. Runs in a
        ``cache_scope``, so compile-time persists never outlive it."""

        def fmt(df) -> str:
            return df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )

        plans: dict[str, str] = {}
        for task in config.validations:
            compiled = compile_task(self.spark, task, self.resolver)
            text = fmt(compiled.metrics_df)
            if task.partition_by:
                from datapact_spark.plans.partitioned import compile_partition_verdicts

                text += "\n\n== Per-partition verdict plan (partition_by=%s) ==\n" % (
                    task.partition_by,
                ) + fmt(compile_partition_verdicts(self.spark, task, self.resolver))
            plans[task.task_key] = text
        return plans

    # ------------------------------------------------------------- run
    def run(
        self,
        config: DataPactConfig,
        job_name: str = "datapact_run",
        run_id: int | None = None,
        raise_on_failure: bool = False,
        max_parallel: int | None = None,
    ) -> RunResult:
        if run_id is None:
            run_id = int(time.time() * 1000)
        job_start_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        result = RunResult(run_id=run_id, job_name=job_name)
        parallelism = max_parallel or config.max_parallel_tasks

        # each task is a cache scope on its pool thread: whatever it
        # persists is released when it finishes, and never a sibling's
        @cache_scope()
        def _run_one(task: ValidationTask) -> tuple[TaskOutcome, Row | None]:
            # FAIR-pool isolation and a job description per task; local
            # properties are thread-confined, so they tag only this task's
            # jobs (and, inherited, those of its sinks)
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.scheduler.pool", f"datapact_{task.task_key}")
            sc.setJobDescription(f"datapact:{run_id}:{task.task_key}")
            t0 = time.monotonic()
            try:
                self._log_colocation(task)
                compiled = compile_task(
                    self.spark, task, self.resolver, baseline_store=self.baselines
                )
                done = self._concurrently(
                    self._task_sinks(task, compiled, run_id, job_name, job_start_ts)
                )
                row = done["verdict"]
                if done.get("partitions") is not None:
                    # north-star mode: any failing group fails the task
                    row = _fold_partition_summary(row, done["partitions"])
                outcome = TaskOutcome(
                    task_key=task.task_key,
                    status=row["status"],
                    payload=row["result_payload"],
                    duration_sec=time.monotonic() - t0,
                )
                return outcome, row
            except Exception as exc:  # compile or execution error
                log.exception("task %s errored", task.task_key)
                return (
                    TaskOutcome(
                        task_key=task.task_key,
                        status="ERROR",
                        payload=None,
                        duration_sec=time.monotonic() - t0,
                        error=str(exc),
                    ),
                    None,
                )

        rows: list[Row] = []
        with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
            for outcome, row in pool.map(_run_one, config.validations):
                result.outcomes[outcome.task_key] = outcome
                if row is not None:
                    rows.append(row)

        if rows:
            sc = self.spark.sparkContext
            caller_description = sc.getLocalProperty(JOB_DESCRIPTION)
            sc.setJobDescription(f"datapact:{run_id}:ledger")
            try:
                ledger_df = local_frame(self.spark, rows)
                self.ledger.append(ledger_df)
                # the dynamic overwrite makes ledger_df exactly the run's
                # partition: derive the exec tables from it, no re-read
                self._refresh_exec_tables(ledger_df, run_id)
            finally:
                sc.setJobDescription(caller_description)

        if raise_on_failure and not result.passed:
            raise DataPactValidationError(
                result.failed_task_keys,
                {
                    k: o.payload or o.error or ""
                    for k, o in result.outcomes.items()
                    if o.status != "SUCCESS"
                },
            )
        return result

    def _log_colocation(self, task: ValidationTask) -> bool | None:
        """Close the bucketing loop (sources/bucketed.py): when a task
        PK-joins two catalog tables, check their bucket specs up front
        and record whether the join will ride the buckets (zero
        Exchange) or shuffle both sides. Returns the tri-state result
        (None = not determinable) so callers/tests can assert it."""
        if not (task.pk_row_hash_check and task.primary_keys):
            return None
        coloc = self.resolver.colocation(
            task.source_ref, task.target_ref, task.primary_keys
        )
        if coloc is True:
            log.info(
                "task %s: source/target co-bucketed on %s — PK join plans "
                "exchange-free",
                task.task_key, task.primary_keys,
            )
        elif coloc is False:
            log.warning(
                "task %s: catalog tables are NOT co-bucketed on %s — the PK "
                "join will shuffle both sides; pre-bucket them with "
                "sources.bucketed.write_bucketed for an exchange-free plan",
                task.task_key, task.primary_keys,
            )
        return coloc

    def _concurrently(self, actions: dict[str, Callable[[], Any]]) -> dict[str, Any]:
        """Run independent Spark actions at once; return their results by
        name. Each runs in its own ``cache_scope`` on a thread that
        inherits this thread's local properties (FAIR pool, job
        description) and appends ``:<name>`` to the description. Waits
        for all of them, then re-raises the first failure in ``actions``
        order."""
        description = self.spark.sparkContext.getLocalProperty(JOB_DESCRIPTION)

        def bind(name: str, action: Callable[[], Any]) -> Callable[[], Any]:
            # wrapping captures this thread's properties; one capture per
            # action, so sibling descriptions never share a Properties
            @inheritable_thread_target(self.spark)
            def run() -> Any:
                self.spark.sparkContext.setJobDescription(f"{description}:{name}")
                with cache_scope():
                    return action()

            return run

        with ThreadPoolExecutor(max_workers=len(actions)) as pool:
            futures = {name: pool.submit(bind(name, a)) for name, a in actions.items()}
        return {name: f.result() for name, f in futures.items()}

    def _task_sinks(
        self, task: ValidationTask, compiled: CompiledTask, run_id: int,
        job_name: str, job_start_ts: dt.datetime,
    ) -> dict[str, Callable[[], Any]]:
        """The compiled task's independent actions: the verdict-row
        collect, each violation write, each baseline bootstrap and, for a
        ``partition_by`` task, the per-partition verdicts."""
        ledger_row = compiled.ledger_row(run_id, run_id, job_name, job_start_ts)
        sinks: dict[str, Callable[[], Any]] = {
            "verdict": lambda: ledger_row.collect()[0]
        }
        for kind, vdf in compiled.violation_dfs.items():
            sinks[f"violations/{kind}"] = partial(
                self.ledger.write_violations, run_id, task.task_key, kind, vdf
            )
        # checks on one column share its baseline directory: write them
        # in order on one thread (the last one wins, as it always has)
        by_column: dict[str, list] = {}
        for dcheck, src_df in compiled.bootstrap_drift:
            by_column.setdefault(dcheck.column, []).append((dcheck, src_df))
        for column, checks in by_column.items():
            sinks[f"baseline/{column}"] = partial(
                self._bootstrap_baselines, task.task_key, checks
            )
        if task.partition_by:
            sinks["partitions"] = partial(self._partition_summary, task, run_id)
        return sinks

    def _bootstrap_baselines(self, task_key: str, checks: list) -> None:
        from datapact_spark.operators.drift import (
            categorical_snapshot,
            histogram_snapshot,
        )
        from datapact_spark.operators.quantiles import kll_sketch, tdigest_sketch

        for dcheck, src_df in checks:
            if dcheck.kind == "categorical":
                snap = categorical_snapshot(src_df, dcheck.column, dcheck.bins)
            elif dcheck.sketch == "tdigest":
                snap = tdigest_sketch(src_df, dcheck.column, dcheck.delta)
            elif dcheck.sketch == "kll":
                snap = kll_sketch(src_df, dcheck.column, dcheck.bins)
            else:
                snap = histogram_snapshot(src_df, dcheck.column, dcheck.bins)
            self.baselines.write(task_key, dcheck.column, snap)

    def _partition_summary(self, task: ValidationTask, run_id: int) -> dict | None:
        """Run per-partition verdicts for a partition_by task and summarize
        them: group counts plus up to 10 failing group keys. None when
        the task has no groupable checks (e.g. custom-SQL only) — its
        task verdict then stands alone."""
        try:
            verdicts = self.run_partitioned(
                task,
                run_id,
                batches=task.partition_batches,
                salt_buckets=task.partition_salt_buckets,
            )
        except ValueError:
            return None
        group_cols = task.partition_by or []
        summary = verdicts.agg(
            F.count(F.lit(1)).alias("total"),
            # coalesce: SUM over zero rows is NULL — an empty verdict set
            # (empty source+target) must read as 0 failed, vacuous pass
            F.coalesce(
                F.sum(F.when(F.col("overall_validation_passed"), 0).otherwise(1)),
                F.lit(0),
            ).alias("failed"),
        ).collect()[0]
        failed_keys = [
            {c: r[c] for c in group_cols}
            for r in verdicts.where(~F.col("overall_validation_passed"))
            .select(*group_cols)
            .orderBy(*group_cols)
            .limit(10)
            .collect()
        ]
        return {
            "partition_by": group_cols,
            "total_groups": summary["total"],
            "failed_groups": summary["failed"],
            "sample_failed_keys": failed_keys,
            "status": "PASS" if summary["failed"] == 0 else "FAIL",
        }

    # ------------------------------------------- per-partition verdicts
    @cache_scope()
    def run_partitioned(
        self,
        task: ValidationTask,
        run_id: int,
        batches: int = 4,
        resume: bool = True,
        salt_buckets: int = 0,
    ):
        """North-star execution mode: per-partition verdicts with
        checkpointed, exactly-resumable batches.

        The verdict keyspace (task.partition_by) is split into
        ``batches`` deterministic hash buckets. ALL uncommitted buckets
        are computed and written in ONE Spark job — the verdict DataFrame
        gains a ``batch`` column and is written ``partitionBy(batch)``
        with dynamic partition overwrite, so the input is scanned once
        per side regardless of ``batches`` (round 1 looped
        ``verdicts.where(bucket == b)`` per batch: ``batches``× full
        rescans of the join/profile DAG — fatal at 100 TB). Each bucket
        directory then gets its own commit marker; a killed run resumes
        by recomputing only unmarked buckets (idempotent dynamic
        overwrite replaces exactly those directories).

        Runs in its own ``cache_scope``: the compiler's persists are
        released once the verdicts are written; the returned frame reads
        the checkpoint.
        """
        from datapact_spark.ledger import CheckpointStore
        from datapact_spark.plans.partitioned import compile_partition_verdicts

        store = CheckpointStore(self.spark, self.ledger.path)
        group_cols = task.partition_by or []
        self._log_colocation(task)
        verdicts = compile_partition_verdicts(
            self.spark, task, self.resolver, salt_buckets=salt_buckets
        )
        missing = [
            b
            for b in range(batches)
            if not (resume and store.batch_done(task.task_key, run_id, b))
        ]
        if len(missing) < batches:
            log.info(
                "task %s: %d/%d batches already committed — recomputing %s",
                task.task_key, batches - len(missing), batches, missing,
            )
        if missing:
            bucket = F.pmod(
                F.xxhash64(*[F.col(c) for c in group_cols]), F.lit(batches)
            ).cast("int")
            out = verdicts.withColumn("batch", bucket)
            if len(missing) < batches:
                out = out.where(F.col("batch").isin(missing))
            # drop orphan files of killed attempts first: a batch that is
            # EMPTY in this recompute produces no dir in the dynamic
            # overwrite, so leftovers would otherwise survive finalize
            store.clear_uncommitted_batches(task.task_key, run_id, missing)
            store.write_batches(task.task_key, run_id, out)
            for b in missing:
                store.finalize_batch(task.task_key, run_id, b, verdicts.schema)
        return store.read_verdicts(task.task_key, run_id)

    def _refresh_exec_tables(self, run_rows: DataFrame, run_id: int) -> None:
        self._concurrently({
            name: partial(self.ledger.write_exec_table, name, build(run_rows), run_id)
            for name, build in (
                ("exec_run_summary", agg.run_summary),
                ("exec_domain_breakdown", agg.domain_breakdown),
                ("exec_owner_breakdown", agg.owner_breakdown),
                ("exec_priority_breakdown", agg.priority_breakdown),
            )
        })


def _fold_partition_summary(row: Row, summary: dict) -> Row:
    """The task's ledger row with the partition summary in its payload;
    any failing group fails the task."""
    payload = json.loads(row["result_payload"])
    payload["partition_verdicts"] = summary
    d = row.asDict()
    d["result_payload"] = json.dumps(payload)
    if summary["failed_groups"] > 0:
        d["status"] = "FAILURE"
    return Row(**d)
