"""spark-submit --py-files packaging contract (BASELINE.json: "packaged
for spark-submit --py-files"): zip the package, run a driver script in a
fresh spark-submit process that imports ONLY from the zip, and assert a
validation round-trips."""

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import sys, json
from pyspark.sql import SparkSession
from datapact_spark.config import DataPactConfig, ValidationTask
from datapact_spark.engine import DataPactEngine
from datapact_spark.sources.loader import TableResolver

sf_dir = sys.argv[1]
spark = SparkSession.builder.getOrCreate()
resolver = TableResolver(spark, base_dir=sf_dir)
engine = DataPactEngine(spark, resolver, results_path=sys.argv[2])
cfg = DataPactConfig(validations=[ValidationTask(
    task_key="pkg_check", source="orders", target="orders",
    primary_keys=["o_orderkey"], count_tolerance=0.0, pk_row_hash_check=True,
)])
res = engine.run(cfg, job_name="pkg")
print("PKG_RESULT=" + json.dumps({k: o.status for k, o in res.outcomes.items()}))
spark.stop()
"""


@pytest.mark.slow
def test_spark_submit_pyfiles(tmp_path, sf_dir):
    zip_path = str(tmp_path / "datapact_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(REPO, "datapact_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))
    driver_path = str(tmp_path / "driver.py")
    with open(driver_path, "w") as fh:
        fh.write(DRIVER)

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            driver_path, sf_dir, str(tmp_path / "results"),
        ],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result_lines = [l for l in out.stdout.splitlines() if l.startswith("PKG_RESULT=")]
    assert result_lines, out.stdout[-2000:]
    assert '"pkg_check": "SUCCESS"' in result_lines[0]


# the hand-carried per-DataFrame cache handle that session.persist /
# cache_scope replaced; a derived frame (select/where/orderBy) silently
# dropped it, which leaked or crashed every time
RETIRED_CACHE_PROTOCOL = ("_datapact_cached", "track_cached", "propagate_cached")


def test_retired_cache_handle_protocol_stays_gone():
    sources = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(os.path.join(REPO, "datapact_spark")):
        sources += [os.path.join(root, f) for f in files if f.endswith(".py")]
    hits = []
    for path in sources:
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                hits += [
                    f"{os.path.relpath(path, REPO)}:{n}: {name}"
                    for name in RETIRED_CACHE_PROTOCOL
                    if name in line
                ]
    assert not hits, "\n".join(hits)


def test_ledger_rows_go_through_local_frame():
    """Driver-side ledger rows become a frame through
    ``ledger.local_frame`` (a JVM local relation): ``createDataFrame``
    on a Python list pickles them through a PythonRDD and starts Python
    workers."""
    hits = []
    for name in ("engine.py", "pipeline.py", "cli.py"):
        path = os.path.join(REPO, "datapact_spark", name)
        with open(path, encoding="utf-8") as fh:
            hits += [
                f"datapact_spark/{name}:{n}"
                for n, line in enumerate(fh, 1)
                if "createDataFrame(" in line
            ]
    assert not hits, "\n".join(hits)
