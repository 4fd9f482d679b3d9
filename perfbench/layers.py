"""Per-layer table of a traced run.

Three sources, all read from the benchmark's side:

* spans around calls into datapact_spark modules (``Tracer``), made by
  wrapping those modules' functions for the traced runs only;
* Spark's own event log (``parse_event_log``): one parser keyed by Spark's
  task-metric and SQL-metric names, attributing jobs to a run by submission
  time and to a validation task by the ``spark.scheduler.pool`` property
  the engine sets per task;
* what each run returned (``RunOutcome.layers``: task durations, stage rows,
  ``StreamingQuery.recentProgress``, output-directory walks).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from workloads import STAGE_NAMES, TASK_KEYS

# (span name, module, owner attribute path). A span's time counts toward
# every layer metric whose prefix list names it (see SPAN_LAYERS).
SPAN_TARGETS = [
    ("compiler.compile", "datapact_spark.engine", "compile_task"),
    ("partitioned.compile", "datapact_spark.plans.partitioned", "compile_partition_verdicts"),
    ("partitioned.run", "datapact_spark.engine", "DataPactEngine.run_partitioned"),
    ("ledger.append", "datapact_spark.ledger", "ResultsLedger.append"),
    ("ledger.violations", "datapact_spark.ledger", "ResultsLedger.write_violations"),
    ("ledger.exec_table", "datapact_spark.ledger", "ResultsLedger.write_exec_table"),
    ("ledger.batches", "datapact_spark.ledger", "CheckpointStore.write_batches"),
    ("ledger.finalize", "datapact_spark.ledger", "CheckpointStore.finalize_batch"),
    ("ledger.index_append", "datapact_spark.ledger", "MinHashIndexStore.append"),
]
SPAN_LAYERS = {
    "compiler.compile_s": ["compiler.compile"],
    "partitioned.compile_s": ["partitioned.compile"],
    "partitioned.run_s": ["partitioned.run"],
    "ledger.write_s": ["ledger."],
    "aggregate.exec_refresh_s": ["ledger.exec_table"],
}

# Spark task metrics: layer metric -> [(path in "Task Metrics", scale)]
TASK_METRICS = {
    "executor.run_s": [(("Executor Run Time",), 1e-3)],
    "executor.cpu_s": [(("Executor CPU Time",), 1e-9)],
    "executor.gc_s": [(("JVM GC Time",), 1e-3)],
    "scan.rows_read": [(("Input Metrics", "Records Read"), 1)],
    "shuffle.write_bytes": [(("Shuffle Write Metrics", "Shuffle Bytes Written"), 1)],
    "shuffle.write_s": [(("Shuffle Write Metrics", "Shuffle Write Time"), 1e-9)],
    "shuffle.read_bytes": [(("Shuffle Read Metrics", "Local Bytes Read"), 1),
                           (("Shuffle Read Metrics", "Remote Bytes Read"), 1)],
    "shuffle.fetch_wait_s": [(("Shuffle Read Metrics", "Fetch Wait Time"), 1e-3)],
    "spill.bytes": [(("Disk Bytes Spilled",), 1)],
}
# SQL metrics that tasks report: those of MapInPandas / ArrowEvalPython /
# BatchEvalPython, by name
TASK_SQL_METRICS = {
    "time to run Python workers": ("python.time_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_received", 1),
}
# SQL metrics that the Spark driver reports: those of file scans. The
# task-level "Input Metrics / Bytes Read" undercounts parquet reads in
# local mode.
DRIVER_SQL_METRICS = {
    "size of files read": ("scan.bytes_read", 1),
    "number of files read": ("scan.files_read", 1),
}
POOL_PREFIX = "datapact_"

# every per-layer metric, with its unit; each workload prints all of them
LAYER_UNITS = {
    "compiler.compile_s": "s", "compiler.calls": "count",
    "partitioned.compile_s": "s", "partitioned.run_s": "s",
    "partitioned.groups": "count", "partitioned.failed_groups": "count",
    "engine.task_s_max": "s", "engine.task_s_sum": "s", "engine.concurrency": "ratio",
    "spark.jobs": "count", "spark.stages": "count",
    "scan.bytes_read": "B", "scan.files_read": "count", "scan.rows_read": "count",
    "scan.read_amplification": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.write_s": "s", "shuffle.fetch_wait_s": "s", "spill.bytes": "B",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "python.time_s": "s", "python.bytes_sent": "B", "python.bytes_received": "B",
    "ledger.write_s": "s", "ledger.bytes_written": "B", "ledger.files_written": "count",
    "aggregate.exec_refresh_s": "s",
    **{f"pipeline.stage_s.{s}": "s" for s in STAGE_NAMES},
    **{f"pipeline.rows_out.{s}": "count" for s in STAGE_NAMES},
    "pipeline.jobs_per_stage": "count",
    "streaming.batches": "count", "streaming.addbatch_s": "s",
    "streaming.trigger_overhead_s": "s", "streaming.accept_ratio": "ratio",
    "index.rows": "count", "index.files": "count",
    "session.pinned_after_run": "count", "jvm.peak_rss_mb": "MB",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "codegen.compiles": "count", "codegen.compile_s": "s",
    **{f"task.{k}.executor_run_s": "s" for k in TASK_KEYS},
    **{f"task.{k}.scan_rows": "count" for k in TASK_KEYS},
    "batch_s": "s", "error_rate": "ratio", "trace.overhead_ratio": "ratio",
}


class Tracer:
    """Spans around calls into datapact_spark, kept in memory."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        for name, module, path in SPAN_TARGETS:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            setattr(owner, attr, self._wrap(name, original))
            self._patched.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _wrap(self, name, fn):
        spans, lock = self.spans, self._lock

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                with lock:
                    spans.append((name, t0, t1))

        return traced

    def layer_sums(self, t0: float, t1: float) -> dict[str, float]:
        """Busy seconds per span layer, and compile calls, within [t0, t1]."""
        inside = [s for s in self.spans if t0 <= s[1] <= t1]
        out = {m: sum(e - b for n, b, e in inside if any(n.startswith(p) for p in prefixes))
               for m, prefixes in SPAN_LAYERS.items()}
        out["compiler.calls"] = sum(1 for s in inside if s[0] == "compiler.compile")
        return out


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_counters(spark) -> dict[str, float]:
    """JVM-wide running totals: JIT compile time, GC time, and Spark's
    whole-stage-codegen compilations (count, and count x mean time, exact
    while the histogram's reservoir holds every sample)."""
    jvm = spark._jvm
    beans = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        "jvm.jit_s": beans.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "jvm.gc_s": sum(g.getCollectionTime() for g in beans.getGarbageCollectorMXBeans()) / 1e3,
        "codegen.compiles": codegen.getCount(),
        "codegen.compile_s": codegen.getCount() * codegen.getSnapshot().getMean() / 1e3,
    }


def _metric(tm: dict, path: tuple[str, ...]) -> float:
    for key in path:
        tm = tm.get(key, {}) if isinstance(tm, dict) else {}
    return tm if isinstance(tm, (int, float)) else 0


def _plan_metric_ids(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def parse_event_log(path: str, window: tuple[float, float]):
    """Spark layer metrics summed over the jobs and SQL executions started
    inside ``window`` (epoch seconds), and the same per validation task
    (``{task_key: {metric: value}}``, from the job's scheduler pool)."""

    def inside(ms: float) -> bool:
        return window[0] <= ms / 1e3 <= window[1]

    pool_of_stage: dict[int, str] = {}
    executions: set[int] = set()
    metric_names: dict[int, str] = {}
    totals: dict[str, float] = defaultdict(float)
    per_task: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(ev["sparkPlanInfo"], metric_names)
                if "time" in ev and inside(ev["time"]):
                    executions.add(ev["executionId"])
            elif kind == "SparkListenerDriverAccumUpdates" and ev["executionId"] in executions:
                for acc_id, value in ev["accumUpdates"]:
                    if metric_names.get(acc_id) in DRIVER_SQL_METRICS:
                        m, scale = DRIVER_SQL_METRICS[metric_names[acc_id]]
                        totals[m] += value * scale
            elif kind == "SparkListenerJobStart" and inside(ev["Submission Time"]):
                totals["spark.jobs"] += 1
                pool = (ev.get("Properties") or {}).get("spark.scheduler.pool", "")
                for sid in ev["Stage IDs"]:
                    pool_of_stage[sid] = pool
            elif kind == "SparkListenerStageSubmitted":
                totals["spark.stages"] += ev["Stage Info"]["Stage ID"] in pool_of_stage
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in pool_of_stage:
                tm = ev.get("Task Metrics") or {}
                values = {m: sum(_metric(tm, p) * s for p, s in paths)
                          for m, paths in TASK_METRICS.items()}
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") in TASK_SQL_METRICS and "Update" in acc:
                        m, scale = TASK_SQL_METRICS[acc["Name"]]
                        values[m] = values.get(m, 0) + float(acc["Update"]) * scale
                for m, v in values.items():
                    totals[m] += v
                pool = pool_of_stage[ev["Stage ID"]]
                if pool.startswith(POOL_PREFIX):
                    task = per_task[pool[len(POOL_PREFIX):]]
                    task["executor_run_s"] += values["executor.run_s"]
                    task["scan_rows"] += values["scan.rows_read"]
    return totals, per_task


def traced_runs(bench, spark):
    """Three runs with the event log on. The first, cold as in the untraced
    benchmark, runs with spans and gives the layer table; then a warm run
    with spans and one without give ``trace.overhead_ratio``.
    Stops the session, which closes the event log, before parsing it."""
    tracer = Tracer()

    def run(traced: bool):
        if traced:
            tracer.install()
        try:
            wall, mark = time.time(), time.perf_counter()
            out = bench.run_one(spark)
            return out, (wall, time.time()), (mark, time.perf_counter())
        finally:
            tracer.uninstall()

    log_dir = spark.conf.get("spark.eventLog.dir")
    before = jvm_counters(spark)
    first, window, (t0, t1) = run(traced=True)
    first.layers.update({k: v - before[k] for k, v in jvm_counters(spark).items()})
    first.layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
    index_rows = first.index_store.read("corpus").count() if first.index_store else 0
    # warm runs still speed up run by run; tracing the earlier one of the
    # pair errs toward overstating the overhead
    traced, plain = run(True)[0], run(False)[0]
    spark.stop()
    (log_file,) = glob.glob(os.path.join(log_dir, "*"))
    spark_m, pools = parse_event_log(log_file, window)

    row = dict.fromkeys(LAYER_UNITS, 0.0)
    row.update(first.layers)
    row.update(tracer.layer_sums(t0, t1))
    row.update(spark_m)
    row["scan.read_amplification"] = spark_m["scan.bytes_read"] / bench.wl.input_bytes
    for key, m in pools.items():
        for name, v in m.items():
            row[f"task.{key}.{name}"] = v
    if first.pipeline_window:
        pipeline_jobs = parse_event_log(log_file, first.pipeline_window)[0]["spark.jobs"]
        row["pipeline.jobs_per_stage"] = pipeline_jobs / len(STAGE_NAMES)
    row["index.rows"] = index_rows
    row["batch_s"] = statistics.median(first.batch_s)
    row["error_rate"] = first.failed / first.attempted
    row["trace.overhead_ratio"] = traced.seconds / plain.seconds
    unknown = set(row) - set(LAYER_UNITS)
    if unknown:
        raise RuntimeError(f"layer metrics without a unit: {sorted(unknown)}")
    return {k: (v, LAYER_UNITS[k]) for k, v in row.items()}, [first, traced, plain]
