"""DataPact benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload validate_partitioned_dirty --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` into
a scratch directory under the checkout (removed at exit), Spark runs
``local[nproc]`` with shuffle partitions and ``max_parallel_tasks`` equal to
``nproc``, and every run's verdicts are checked against the generator's
ground truth. The last stdout line is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer table with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Input writing and index building repeat this often, into fresh dirs;
# setup_s takes their median (session start happens once per JVM).
SETUP_REPS = 3


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _pin_environment(work: str) -> None:
    """Keep every file Spark and its Python workers write inside ``work``,
    and drop the variables through which the host could resize the run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "DATAPACT_DRIVER_MEM": "2g",
        # For every JVM spark-submit starts. hsperfdata ignores
        # java.io.tmpdir. C1 only: one cold run never reaches C2's steady
        # state, and C2's compile threads would burn 2-3x the run's wall
        # time in CPU, competing with it for the cores.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    })
    for var in ("SPARK_GRAFT_CPUS", "DATAPACT_SHUFFLE_PARTITIONS", "DATAPACT_LOCAL_DIR"):
        os.environ.pop(var, None)


def start_spark(work: str, nproc: int, event_log: str | None = None):
    from datapact_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it: the
    gateway JVM exits when its stdin closes, and its Python workers with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Bench:
    """Set-up, then a closed loop of runs, each from identical state."""

    def __init__(self, workload, work: str, seconds: float):
        self.wl, self.work, self.seconds = workload, work, seconds
        self.run_seq = 0

    def run_one(self, spark):
        from workloads import fresh_dir

        self.run_seq += 1
        out = self.wl.run(spark, fresh_dir(os.path.join(self.work, "out")),
                          run_id=1_000 + self.run_seq)
        out.layers["session.pinned_after_run"] = (
            spark.sparkContext._jsc.sc().getPersistentRDDs().size())
        for e in out.errors:
            print(f"# {e}", file=sys.stderr)
        return out

    def measure(self, spark) -> list:
        """Run back to back until ``seconds`` have passed (at least once)."""
        outs = []
        t_end = time.perf_counter() + self.seconds
        while not outs or time.perf_counter() < t_end:
            outs.append(self.run_one(spark))
        return outs


def end_to_end(outs, setup_s: float) -> dict:
    run_s = statistics.median(o.seconds for o in outs)
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "rows_per_s": (outs[0].rows_in / run_s, "rows/s"),
        "cpu_s": (statistics.median(o.cpu_seconds for o in outs), "s"),
    }


def main() -> int:
    args = _args()
    sys.path[:0] = [ROOT, HERE]
    # fail fast, before any Spark start, outside a full checkout
    import datapact_spark  # noqa: F401

    import layers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    checkout = os.getcwd()
    scratch = os.path.join(checkout, ".bench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _pin_environment(work)
    os.chdir(work)  # anything Spark drops in its cwd stays in the scratch dir
    spark = None
    try:
        t0 = time.perf_counter()
        bench = Bench(WORKLOADS[args.workload](args.seed, nproc), work, args.seconds)
        spark = start_spark(work, nproc,
                            event_log=os.path.join(work, "eventlog") if args.trace else None)
        session_s = time.perf_counter() - t0
        env = {
            "workload": args.workload, "seed": args.seed, "nproc": nproc,
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "max_parallel_tasks": nproc,
            "spark": spark.version, "python": platform.python_version(),
            "jvm": spark._jvm.java.lang.System.getProperty("java.version"),
            "rows_in": bench.wl.rows_in, "session_s": round(session_s, 3),
        }
        prepare_s = []
        # a traced invocation reports no setup_s; one round keeps it short
        for rep in range(1 if args.trace else SETUP_REPS):
            t = time.perf_counter()
            bench.wl.prepare(spark, os.path.join(work, f"data{rep}"))
            prepare_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prepare_s)
        if args.trace:
            metrics, outs = layers.traced_runs(bench, spark)
        else:
            outs = bench.measure(spark)
            metrics = end_to_end(outs, setup_s)
        env["runs"] = len(outs)
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(checkout)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(scratch) and not os.listdir(scratch):
            os.rmdir(scratch)
    correct = not any(o.wrong for o in outs)
    print("# env " + json.dumps(env))
    print(json.dumps({
        "correct": correct,
        "attempted": sum(o.attempted for o in outs),
        "failed": sum(o.failed for o in outs),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
