"""CLI: ``python -m datapact_spark run|plan|init`` (main.py parity).

* ``run``  — execute a YAML config; exit code 1 if any task fails
  (replaces the reference's RAISE_ERROR fail-fast gate).
* ``plan`` — compile and print physical plans without executing
  (``datapact plan`` / ``--dry-run`` parity, main.py:167-174).
* ``init`` — write a starter YAML (main.py:77-86).
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

DEFAULT_CONFIG_TEMPLATE = """\
# datapact_spark starter config
results_path: /tmp/datapact_results
max_parallel_tasks: 8
validations:
  - task_key: example_task
    source: my_catalog.my_schema.source_table   # or a parquet path
    target: my_catalog.my_schema.target_table
    primary_keys: [id]
    count_tolerance: 0.0
    pk_row_hash_check: true
    pk_hash_tolerance: 0.0
    null_validation_columns: [email]
    null_validation_tolerance: 0.01
    agg_validations:
      - column: amount
        validations:
          - {agg: SUM, tolerance: 0.005}
    uniqueness_columns: [id]
    uniqueness_tolerance: 0.0
    freshness_checks:
      - {column: updated_at, max_age_hours: 24}   # SLA staleness gate
    schema_check: true              # metadata-only schema parity (exact|subset|names)
    constraint_checks:
      - name: amount_non_negative
        predicate: amount >= 0        # SQL boolean expr, per row
        tolerance: 0.0                # max violation rate
        side: source                  # source | target | both
        null_passes: true             # ANSI CHECK: NULL passes
    business_domain: Examples
    business_owner: you@example.com
    business_priority: High
"""


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="datapact_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    run_p = sub.add_parser("run", help="run validations from a YAML config")
    run_p.add_argument("--config", required=True)
    run_p.add_argument("--job-name", default="datapact_run")
    run_p.add_argument("--results-path", default=None)
    run_p.add_argument("--base-dir", default=None, help="directory of parquet tables")
    run_p.add_argument("--run-id", type=int, default=None)

    plan_p = sub.add_parser("plan", help="compile and print plans (dry run)")
    plan_p.add_argument("--config", required=True)
    plan_p.add_argument("--base-dir", default=None)

    init_p = sub.add_parser("init", help="write a starter config")
    init_p.add_argument("--output", default="datapact.yml")

    dash_p = sub.add_parser(
        "dashboard",
        help="build the executive dashboard payload (.lvdash.json) over a "
        "results directory (ensure_dashboard_exists parity, minus the "
        "workspace publish)",
    )
    dash_p.add_argument("--results-path", required=True)
    dash_p.add_argument("--job-name", default="datapact_run")
    dash_p.add_argument(
        "--output", default=None,
        help="directory for the .lvdash.json (default: <results-path>/dashboards)",
    )

    diff_p = sub.add_parser(
        "diff",
        help="ad-hoc table diff: counts, schema, per-key presence and "
        "row-hash mismatches with a bounded sample (exit 1 if different)",
    )
    diff_p.add_argument("--source", required=True)
    diff_p.add_argument("--target", required=True)
    diff_p.add_argument("--keys", default=None,
                        help="comma-separated join keys enabling the row compare")
    diff_p.add_argument("--hash-columns", default=None,
                        help="comma-separated columns to hash (default: common non-key columns)")
    diff_p.add_argument("--algo", default="md5",
                        choices=["md5", "sha256", "xxhash64"])
    diff_p.add_argument("--sample", type=int, default=5)
    diff_p.add_argument(
        "--partition-by", default=None,
        help="comma-separated group columns: report WHICH partitions "
        "differ (requires --keys; fingerprint mode, clean groups free)",
    )
    diff_p.add_argument("--base-dir", default=None)

    sug_p = sub.add_parser(
        "suggest",
        help="profile a table once and write a suggested validation "
        "config (expectation-profiler onboarding path)",
    )
    sug_p.add_argument("--source", required=True,
                       help="table FQN, parquet path, or registered name")
    sug_p.add_argument("--base-dir", default=None)
    sug_p.add_argument("--output", default=None,
                       help="YAML path (default: stdout)")
    sug_p.add_argument("--results-path", default="/tmp/datapact_results")

    pipe_p = sub.add_parser(
        "pipeline",
        help="run the declarative curation pipelines from a YAML config "
        "(resumable: each stage materializes to parquet with a commit "
        "marker; a killed run resumes at the completed-stage boundary)",
    )
    pipe_p.add_argument("--config", required=True)
    pipe_p.add_argument("--base-dir", default=None)
    pipe_p.add_argument("--stage-root", default=None,
                        help="stage-checkpoint directory (default: "
                        "<results_path>/pipelines)")
    pipe_p.add_argument("--results-path", default=None)
    pipe_p.add_argument("--run-id", type=int, default=None)
    pipe_p.add_argument("--job-name", default="datapact_pipeline")

    hist_p = sub.add_parser(
        "history",
        help="recent runs + per-task status transitions from a results "
        "directory ledger",
    )
    hist_p.add_argument("--results-path", required=True)
    hist_p.add_argument("--runs", type=int, default=5, help="runs to summarize")
    hist_p.add_argument(
        "--delta", action="store_true",
        help="also print per-task transitions between the two latest runs",
    )
    hist_p.add_argument(
        "--anomalies", action="store_true",
        help="also flag tasks whose latest runtime jumped vs trailing history",
    )

    args = parser.parse_args(argv)

    if args.command == "init":
        out = Path(args.output)
        if out.exists():
            print(f"refusing to overwrite {out}", file=sys.stderr)
            return 1
        out.write_text(DEFAULT_CONFIG_TEMPLATE)
        print(f"wrote {out}")
        return 0

    from datapact_spark.config import load_config
    from datapact_spark.engine import DataPactEngine
    from datapact_spark.session import get_spark
    from datapact_spark.sources.loader import TableResolver

    if args.command == "history":
        from pyspark.sql import functions as F

        from datapact_spark import aggregate as agg
        from datapact_spark.ledger import ResultsLedger

        spark = get_spark()
        ledger = ResultsLedger(spark, args.results_path).read()
        summary = (
            ledger.groupBy("run_id", "job_name")
            .agg(
                F.count(F.lit(1)).alias("tasks"),
                F.sum(
                    F.when(F.col("status") != "SUCCESS", 1).otherwise(0)
                ).alias("failed"),
                F.max("validation_complete_ts").alias("finished_at"),
            )
            .orderBy(F.col("run_id").desc())
            .limit(args.runs)
            .collect()
        )
        if not summary:
            print("no runs recorded", file=sys.stderr)
            return 1
        for r in summary:
            print(
                f"run {r['run_id']}  job={r['job_name']}  tasks={r['tasks']}  "
                f"failed={r['failed']}  finished={r['finished_at']}"
            )
        if args.delta:
            try:
                rows = agg.run_delta(ledger).orderBy("task_key").collect()
            except ValueError as e:
                print(f"delta unavailable: {e}", file=sys.stderr)
                return 0
            print("--- delta (two latest runs) ---")
            for r in rows:
                print(
                    f"{r['task_key']}: {r['transition']} "
                    f"({r['prev_status']} -> {r['curr_status']})"
                )
        if args.anomalies:
            hot = (
                agg.runtime_anomalies(ledger)
                .where(F.col("anomalous"))
                .orderBy(F.col("runtime_zscore").desc_nulls_last())
                .collect()
            )
            print("--- runtime anomalies (latest run vs trailing history) ---")
            if not hot:
                print("none")
            for r in hot:
                z = r["runtime_zscore"]
                print(
                    f"{r['task_key']}: {r['latest_runtime_sec']:.1f}s vs mean "
                    f"{r['mean_runtime_sec']:.1f}s over {r['history_runs']} runs"
                    + (f" (z={z:.1f})" if z is not None else "")
                )
        return 0

    if args.command == "diff":
        from datapact_spark.diff import diff_partitions, diff_tables

        spark = get_spark()
        resolver = TableResolver(spark, base_dir=args.base_dir)
        if args.partition_by:
            if not args.keys:
                print("--partition-by requires --keys", file=sys.stderr)
                return 2
            n_groups, n_fail, worst = diff_partitions(
                spark, resolver, args.source, args.target,
                keys=args.keys.split(","),
                partition_by=args.partition_by.split(","),
                hash_columns=(
                    args.hash_columns.split(",") if args.hash_columns else None
                ),
                algo=args.algo,
                sample=args.sample,
            )
            print(f"groups: {n_fail} of {n_groups} differ")
            for w in worst:
                print(f"  {w}")
            print("verdict: " + ("IDENTICAL" if n_fail == 0 else "DIFFERENT"))
            return 0 if n_fail == 0 else 1
        res = diff_tables(
            resolver.resolve(args.source),
            resolver.resolve(args.target),
            keys=args.keys.split(",") if args.keys else None,
            hash_columns=(
                args.hash_columns.split(",") if args.hash_columns else None
            ),
            algo=args.algo,
            sample=args.sample,
        )
        print(res.render())
        return 0 if res.identical else 1

    if args.command == "suggest":
        from datapact_spark.suggest import suggest_config_yaml

        spark = get_spark()
        resolver = TableResolver(spark, base_dir=args.base_dir)
        df = resolver.resolve(args.source)
        text = suggest_config_yaml(
            df, args.source, results_path=args.results_path
        )
        if args.output:
            Path(args.output).write_text(text)
            print(f"wrote {args.output}")
        else:
            print(text)
        return 0

    if args.command == "dashboard":
        import os

        from datapact_spark.dashboard import (
            build_dashboard_spec,
            dashboard_datasets,
            register_results_views,
            write_dashboard,
        )
        from datapact_spark.ledger import ResultsLedger

        spark = get_spark()
        ledger = ResultsLedger(spark, args.results_path)
        views = register_results_views(spark, ledger)
        # Smoke the dataset SQL against the actual ledger before writing.
        # A results dir can hold a ledger without exec tables (e.g. a run
        # that died before the refresh) — skip datasets whose backing
        # dp_* view was not registered instead of crashing on them.
        registered = set(views)
        skipped = []
        for name, sql in dashboard_datasets(args.job_name).items():
            needed = set(re.findall(r"\bdp_\w+", sql))
            if not needed <= registered:
                skipped.append((name, sorted(needed - registered)))
                continue
            spark.sql(sql).limit(1).collect()
        for name, missing in skipped:
            print(
                f"skipped dataset {name}: backing view(s) not present: "
                f"{', '.join(missing)}"
            )
        spec = build_dashboard_spec(args.job_name)
        out_dir = args.output or os.path.join(args.results_path, "dashboards")
        out = write_dashboard(out_dir, spec)
        print(f"registered views: {', '.join(views)}")
        print(f"wrote {out}")
        return 0

    config = load_config(args.config)
    spark = get_spark()
    resolver = TableResolver(spark, base_dir=getattr(args, "base_dir", None))

    if args.command == "pipeline":
        import os
        import time as _time

        from datapact_spark.ledger import ResultsLedger
        from datapact_spark.pipeline import PipelineRunner, build_stages

        if not config.pipelines:
            print("config declares no pipelines", file=sys.stderr)
            return 1
        results_path = (
            args.results_path or config.results_path or "/tmp/datapact_results"
        )
        stage_root = args.stage_root or os.path.join(results_path, "pipelines")
        run_id = args.run_id or int(_time.time() * 1000)
        ledger = ResultsLedger(spark, results_path)
        runner = PipelineRunner(spark, stage_root)
        # collect every pipeline's lineage and append ONCE: the ledger
        # write is a dynamic overwrite of the run_id partition, so a
        # per-pipeline append under the shared run_id would keep only
        # the LAST pipeline's stage history
        lineage: list[dict] = []
        for spec in config.pipelines:
            src = resolver.resolve(spec.source)
            _, results = runner.run(
                spec.pipeline_key, run_id, src, build_stages(spec),
                ledger=None, job_name=args.job_name,
            )
            lineage += runner.lineage_rows(
                spec.pipeline_key, run_id, args.job_name, results
            )
            for r in results:
                state = "resumed" if r.resumed else f"{r.rows} rows"
                print(
                    f"{spec.pipeline_key}.{r.stage}: {state} "
                    f"({r.seconds:.2f}s) -> {r.path}"
                )
        if lineage:
            from datapact_spark.ledger import local_frame

            ledger.append(local_frame(spark, lineage))
        print(f"pipeline run_id={run_id} complete")
        return 0

    if args.command == "plan":
        engine = DataPactEngine(spark, resolver)
        for task_key, plan in engine.plan(config).items():
            print(f"=== {task_key} ===\n{plan}\n")
        return 0

    results_path = args.results_path or config.results_path or "/tmp/datapact_results"
    engine = DataPactEngine(spark, resolver, results_path=results_path)
    result = engine.run(config, job_name=args.job_name, run_id=args.run_id)
    for key, outcome in result.outcomes.items():
        print(f"{key}: {outcome.status} ({outcome.duration_sec:.2f}s)")
        if outcome.status != "SUCCESS" and outcome.payload:
            print(json.dumps(json.loads(outcome.payload), indent=2))
    if not result.passed:
        print(
            f"DataPact validation tasks failed: {json.dumps(result.failed_task_keys)}",
            file=sys.stderr,
        )
        return 1
    print("All DataPact validations passed successfully!")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
