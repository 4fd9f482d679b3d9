"""Cache lifecycle hygiene (VERDICT r5 #4): a relation an operator
persists for its returned plan is registered on the current thread with
``session.persist`` and released when the caller's ``cache_scope`` exits
(or by ``release_cached`` outside any scope) — no query may pin executor
storage for the rest of the session (the r4 ``dup_clusters`` leak class).
"""

import json
import os
import threading

import pytest

from datapact_spark.session import cache_scope, persist, release_cached

SF_DIR = "/root/testdata/sf0.001"


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _in_cache(df) -> bool:
    """Whether Spark's CacheManager holds ``df``'s plan (``is_cached`` is
    only a Python-side flag)."""
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_persist_release_roundtrip(spark):
    before = _n_cached_rdds(spark)
    persist(spark.range(100)).count()
    assert _n_cached_rdds(spark) == before + 1
    assert release_cached() == 1
    assert release_cached() == 0  # idempotent
    assert _n_cached_rdds(spark) == before


def test_release_without_handle_is_noop(spark):
    assert release_cached() == 0


def test_scopes_nest(spark):
    with cache_scope():
        outer = persist(spark.range(10))
        with cache_scope():
            inner = persist(spark.range(20))
        assert not _in_cache(inner)
        assert _in_cache(outer)
    assert not _in_cache(outer)


def test_scope_exit_spares_other_threads(spark):
    """The engine's pool runs tasks concurrently in one session: a
    task's scope exit releases its own persists and never a sibling
    thread's. More threads than cores; thread i leaves its scope only
    after thread i-1 has left its own, and must still find its frame
    cached."""
    n = 8
    all_persisted = threading.Barrier(n, timeout=60)
    exited = [threading.Event() for _ in range(n)]
    cached_at_exit: list = [None] * n
    cached_after: list = [None] * n

    def task(i: int) -> None:
        with cache_scope():
            # distinct plans, so each thread owns a distinct cache entry
            df = persist(spark.range(i + 1))
            all_persisted.wait()
            if i:
                exited[i - 1].wait(timeout=60)
            cached_at_exit[i] = _in_cache(df)
        cached_after[i] = _in_cache(df)
        exited[i].set()

    threads = [threading.Thread(target=task, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert all(e.is_set() for e in exited)
    assert cached_at_exit == [True] * n
    assert cached_after == [False] * n


@pytest.mark.parametrize("name", ["tfidf_terms", "corpus_pipeline"])
def test_driver_queries_release_their_persists(spark, name):
    """Queries that persist mid-plan relations: after materializing and
    releasing, the session's persistent-RDD census returns to its
    pre-query level — nothing stays pinned."""
    import __spark_entry__ as entry_mod

    spark.catalog.clearCache()
    release_cached()
    before = _n_cached_rdds(spark)
    df = entry_mod.queries_all()[name](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    assert release_cached() > 0, f"{name} should register its persists"
    assert _n_cached_rdds(spark) <= before, (
        f"{name} left {_n_cached_rdds(spark) - before} relations pinned"
    )


def test_no_other_active_query_pins_storage(spark):
    """Census over the rest of the active board: any query that persists
    must either release internally or register its persists — running
    it and releasing must never grow the persistent-RDD census.
    Streaming and index-building queries are exercised by their own
    lifecycle tests; here we cover the cheap plan-only families that
    could silently grow a long-lived server's cache."""
    import __spark_entry__ as entry_mod

    cheap = [
        "dedup_exact", "minhash_dedup", "dup_clusters", "vocab_topk",
        "chunk_documents", "pack_sequences", "quota_sample",
        "contamination_check", "code_pipeline", "substring_dedup",
        "code_near_clones", "partitioned_verdict",
    ]
    queries = entry_mod.queries_all()
    spark.catalog.clearCache()
    release_cached()
    before = _n_cached_rdds(spark)
    for name in cheap:
        with cache_scope():
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
    assert _n_cached_rdds(spark) <= before, "a query pinned storage"


def test_engine_partitioned_run_pins_nothing(spark, tmp_path):
    """Engine-run census: a partitioned fingerprint task with a folded
    constraint persists its joined profile; run concurrently with a
    join-mode sibling and a sibling that materializes its violations on
    the engine's pool, each task's scope must release its own persists
    (and its sinks' theirs), and all must complete their verdicts."""
    from datapact_spark.config import ConstraintCheck, DataPactConfig, ValidationTask
    from datapact_spark.engine import DataPactEngine
    from datapact_spark.sources.codegen import corrupt_code_table, synthesize_code_table
    from datapact_spark.sources.loader import TableResolver

    src = synthesize_code_table(spark, 2000, n_repos=4, seed=5)
    resolver = TableResolver(spark)
    resolver.register("code_src", src)
    resolver.register("code_tgt", corrupt_code_table(src, mutate_every=100))
    engine = DataPactEngine(spark, resolver, results_path=str(tmp_path / "res"))
    task = ValidationTask(
        task_key="census", source="code_src", target="code_tgt",
        primary_keys=["repo", "path"], partition_by=["repo", "lang"],
        count_tolerance=0.0, pk_row_hash_check=True,
        hash_columns=["content"], hash_algo="sha256",
        row_hash_mode="fingerprint",
        uniqueness_columns=["repo", "path"], uniqueness_tolerance=0.0,
        constraint_checks=[
            ConstraintCheck(name="content_present", predicate="length(content) > 0")
        ],
    )
    sibling = task.model_copy(
        update={"task_key": "census_join", "row_hash_mode": "join"}
    )
    # violation writes run as concurrent sinks on their own threads
    violations = sibling.model_copy(
        update={"task_key": "census_viol", "materialize_violations": True}
    )
    before = _n_cached_rdds(spark)
    res = engine.run(
        DataPactConfig(validations=[task, sibling, violations]),
        job_name="census", run_id=3, max_parallel=2,
    )
    assert os.listdir(tmp_path / "res" / "violations" / "run_id=3" / "census_viol")
    for key in ("census", "census_join", "census_viol"):
        assert res.outcomes[key].status == "FAILURE", res.outcomes[key].error
        assert "partition_verdicts" in json.loads(res.outcomes[key].payload)
    assert _n_cached_rdds(spark) <= before
