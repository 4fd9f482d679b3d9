"""SparkSession builder with scale-oriented defaults.

AQE (runtime re-planning, skew-join splitting, partition coalescing) and
Arrow-batched Python UDF transfer are on by default — these are the
settings the engine assumes at 100 TB scale and they are equally correct
on local[N].

Cache lifetime is a scope: ``persist`` registers a relation on the
current thread and the enclosing ``cache_scope`` unpersists it on exit.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "datapact-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with validation-engine defaults.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("DATAPACT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE: coalesce small shuffle partitions, split skewed ones.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Arrow batching for the few pandas UDFs (sketches, sha256 fallback).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # FAIR scheduling so concurrent validation tasks share the cluster.
        "spark.scheduler.mode": "FAIR",
        # Timestamps: engine contract is UTC, session-stable.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.driver.memory": os.environ.get("DATAPACT_DRIVER_MEM", "8g"),
    }
    if os.environ.get("DATAPACT_LOCAL_DIR"):
        # shuffle/spill directory — point at fast storage (NVMe, tmpfs)
        conf["spark.local.dir"] = os.environ["DATAPACT_LOCAL_DIR"]
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class _Registry(threading.local):
    """Per-thread list of the frames ``persist`` registered."""

    def __init__(self) -> None:
        self.cached: list[DataFrame] = []


_registry = _Registry()


def _release_from(mark: int) -> int:
    reg = _registry.cached
    dropped = reg[mark:]
    del reg[mark:]
    for df in reversed(dropped):
        df.unpersist()
    return len(dropped)


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK: spills rather than recomputes)
    and register it on the current thread, so the innermost enclosing
    ``cache_scope`` releases it on exit. Operators persist a relation
    their returned plan still reads this way; the cache then lives
    exactly as long as the caller's scope."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _registry.cached.append(df)
    return df


@contextmanager
def cache_scope():
    """Unpersist, on exit, every relation this thread registered with
    ``persist`` since the scope was entered. Scopes nest, and a scope
    never touches another thread's registrations — the engine runs
    tasks concurrently in one session, so a session-wide
    ``clearCache`` would drop a sibling task's live cache."""
    mark = len(_registry.cached)
    try:
        yield
    finally:
        _release_from(mark)


def release_cached(_df=None) -> int:
    """Unpersist everything the current thread registered with
    ``persist`` and return how many relations that was. For callers
    that materialize outside any ``cache_scope``; the argument is
    accepted and ignored."""
    return _release_from(0)
