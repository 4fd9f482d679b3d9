"""The workloads. Each drives datapact_spark through the entry point a user
calls and checks every verdict against the generator's ground truth.

A workload is a closed loop with one client: the next run starts when the
previous one returns. ``prepare`` writes the inputs (and, for the stream,
builds the index) once; ``run`` executes once against fresh output
directories and returns a ``RunOutcome``. The ``score_*`` functions hold
the ground-truth comparison, apart from Spark, so the self-test can feed
them flipped verdicts.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import yaml

import gen

# The task of examples/code_table_validation.yml, frozen here so the
# workload does not move when the example is edited.
CODE_TABLE_TASK = {
    "task_key": "code_repo_parity",
    "source": "code_src",
    "target": "code_tgt",
    "primary_keys": ["repo", "path"],
    "partition_by": ["repo", "lang"],
    "count_tolerance": 0.0,
    "pk_row_hash_check": True,
    "pk_hash_tolerance": 0.0,
    "hash_columns": ["content"],
    "hash_algo": "sha256",
    "uniqueness_columns": ["repo", "path"],
    "uniqueness_tolerance": 0.0,
    "schema_check": True,
    "constraint_checks": [
        {"name": "lang_known",
         "predicate": "lang IN ('py','java','go','rs','cpp','js','sql','scala')",
         "tolerance": 0.001},
        {"name": "content_present", "predicate": "length(content) > 0", "null_passes": False},
        {"name": "path_well_formed",
         "predicate": "path NOT LIKE '/%' AND path NOT LIKE '%..%'", "side": "both"},
    ],
    "materialize_violations": True,
    "business_domain": "Platform",
    "business_priority": "Critical",
    "estimated_impact_usd": 1000000,
}
PARTITIONED_TASKS = [
    CODE_TABLE_TASK,
    dict(CODE_TABLE_TASK, task_key="code_repo_parity_fingerprint", row_hash_mode="fingerprint"),
]
TASK_KEYS = [t["task_key"] for t in PARTITIONED_TASKS]

# Stage list of examples/corpus_curation_pipeline.yml, frozen likewise.
CURATION_STAGES = [
    {"kind": "filter", "where": "length(text) > 20"},
    {"kind": "strip_boilerplate", "min_docs": 3},
    {"kind": "redact_pii"},
    {"kind": "exact_dedup"},
    {"kind": "split", "fractions": {"train": 0.9, "val": 0.05, "test": 0.05}, "keep": "train"},
    {"kind": "chunk", "max_tokens": 512, "overlap": 64},
    {"kind": "pack", "context_len": 2048, "shards": 64},
]
STAGE_NAMES = [s["kind"] for s in CURATION_STAGES]

# signature parameters of the near-dup gate's MinHash index
INDEX_PARAMS = {"num_hashes": 64, "bands": 16, "shingle_n": 3, "seed": 42}


@dataclass
class Score:
    attempted: int = 0        # operations: tasks, stages or incoming docs
    failed: int = 0           # ended in ERROR, or verdict/route differs from truth
    wrong: int = 0            # completed, but verdict/route differs from truth
    errors: list[str] = field(default_factory=list)


@dataclass
class RunOutcome(Score):
    seconds: float = 0.0
    cpu_seconds: float = 0.0
    rows_in: int = 0
    batch_s: list[float] = field(default_factory=list)   # per engine task or micro-batch
    layers: dict[str, float] = field(default_factory=dict)
    index_store: object = None                           # the gate's index after the run
    pipeline_window: tuple[float, float] | None = None   # epoch seconds of the pipeline


def score_tasks(expected: dict[str, str], statuses: dict[str, str],
                wrong_groups: set[str] = frozenset()) -> Score:
    """Tasks fail when their status differs from the expected one, or when
    their per-group verdicts differ from the planted failing groups. Only
    an ERROR status is a failure without being a wrong answer."""
    s = Score()
    for key, want in expected.items():
        got = statuses.get(key, "MISSING")
        s.attempted += 1
        if got != want or key in wrong_groups:
            s.failed += 1
            s.wrong += got != "ERROR"
            s.errors.append(f"{key}: expected {want}, got {got}"
                            f"{' with wrong failing groups' if key in wrong_groups else ''}")
    return s


def score_stages(expected: dict[str, int], got: dict[str, int | None]) -> Score:
    s = Score()
    for name, want in expected.items():
        s.attempted += 1
        if got.get(name) != want:
            s.failed += 1
            s.wrong += 1
            s.errors.append(f"stage {name}: expected {want} rows, got {got.get(name)}")
    return s


def score_routes(routes: dict[int, tuple[str, int | None]], accepted: set[int],
                 rejected: dict[int, int]) -> Score:
    """Each incoming doc must be accepted, rejected with the planted match,
    or (the larger id of an intra-batch pair) dropped from both sinks."""
    s = Score()
    for doc_id, (route, match) in routes.items():
        s.attempted += 1
        if route == "accept":
            ok = doc_id in accepted and doc_id not in rejected
        elif route == "reject":
            ok = rejected.get(doc_id) == match and doc_id not in accepted
        else:
            ok = doc_id not in accepted and doc_id not in rejected
        if not ok:
            s.failed += 1
            s.wrong += 1
            if len(s.errors) < 5:
                s.errors.append(f"doc {doc_id}: expected {route} {match}, accepted="
                                f"{doc_id in accepted} rejected={rejected.get(doc_id)}")
    return s


class Stopwatch:
    """Wall and CPU seconds of a region. CPU counts this process, where the
    program's Python runs, plus the Spark JVM and every process below it
    (its Python workers), read from /proc."""

    def __init__(self, spark):
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def _cpu(self) -> float:
        tree: dict[int, tuple[int, int]] = {}  # pid -> (ppid, clock ticks)
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:  # exited while listing
                    continue
                # utime, stime, cutime, cstime
                tree[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])))
        ticks, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            ticks += tree.get(pid, (0, 0))[1]
            todo += [c for c, (ppid, _) in tree.items() if ppid == pid]
        own = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system

    def __enter__(self):
        self.wall0, self.cpu0 = time.perf_counter(), self._cpu()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.wall0
        self.cpu = self._cpu() - self.cpu0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_stats(*roots: str) -> tuple[int, int]:
    """(data files, bytes) below ``roots``, skipping markers and checksums."""
    files = size = 0
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
    return files, size


# -------------------------------------------------------------- validation
class ValidatePartitionedDirty:
    """``DataPactEngine.run`` of the shipped partitioned code-table task, in
    join and in fingerprint row-hash mode, over a skewed pair whose target
    has planted content mutations and dropped files."""

    name = "validate_partitioned_dirty"
    n_files = 40_000
    n_repos = 60

    def __init__(self, seed: int, nproc: int):
        self.nproc = nproc
        self.truth = gen.code_tables(seed, self.n_files, self.n_repos, dirty=True)
        self.rows_in = self.truth.source.num_rows + self.truth.target.num_rows
        self.expected = {k: "FAILURE" for k in TASK_KEYS}

    def prepare(self, spark, data_dir: str) -> None:
        gen.write_code_tables(self.truth, data_dir, files=self.nproc)
        self.data_dir = data_dir
        self.input_bytes = dir_stats(data_dir)[1]

    def run(self, spark, out_dir: str, run_id: int) -> RunOutcome:
        from datapact_spark.config import load_config
        from datapact_spark.engine import DataPactEngine
        from datapact_spark.sources.loader import TableResolver

        results = os.path.join(out_dir, "results")
        cfg_path = os.path.join(out_dir, "config.yml")
        with open(cfg_path, "w") as f:
            yaml.safe_dump({"results_path": results, "max_parallel_tasks": self.nproc,
                            "validations": PARTITIONED_TASKS}, f, sort_keys=False)
        config = load_config(cfg_path)
        engine = DataPactEngine(spark, TableResolver(spark, base_dir=self.data_dir), results)
        with Stopwatch(spark) as clock:
            result = engine.run(config, job_name="perfbench", run_id=run_id)
        seconds = clock.wall

        groups, wrong_groups, group_errors = self.read_groups(spark, results, run_id)
        score = score_tasks(self.expected,
                            {k: o.status for k, o in result.outcomes.items()}, wrong_groups)
        out = RunOutcome(**vars(score), seconds=seconds, cpu_seconds=clock.cpu,
                         rows_in=self.rows_in)
        out.errors += group_errors + [f"{k}: {o.error}" for k, o in result.outcomes.items()
                                      if o.error]
        durations = [o.duration_sec for o in result.outcomes.values()]
        out.batch_s = durations
        files, size = dir_stats(results)
        out.layers.update(groups)
        out.layers.update({
            "engine.task_s_max": max(durations),
            "engine.task_s_sum": sum(durations),
            "engine.concurrency": sum(durations) / seconds,
            "ledger.bytes_written": size,
            "ledger.files_written": files,
        })
        return out

    def read_groups(self, spark, results: str, run_id: int):
        """Each task's failing (repo, lang) groups, read back from its
        checkpointed verdict batches, against the planted ones."""
        from datapact_spark.ledger import CheckpointStore

        store = CheckpointStore(spark, results)
        counts = {"partitioned.groups": 0, "partitioned.failed_groups": 0}
        wrong, errors = set(), []
        for key in TASK_KEYS:
            if not os.path.isdir(os.path.join(results, "checkpoints", key, f"run_id={run_id}")):
                continue  # wrote no verdicts; its status is already scored
            verdicts = store.read_verdicts(key, run_id).select(
                "repo", "lang", "overall_validation_passed").collect()
            got = {(r["repo"], r["lang"]) for r in verdicts if not r[2]}
            counts["partitioned.groups"] += len(verdicts)
            counts["partitioned.failed_groups"] += len(got)
            if got != self.truth.failing_groups:
                wrong.add(key)
                errors.append(f"{key}: failing groups {sorted(got)} != planted "
                              f"{sorted(self.truth.failing_groups)}")
        return counts, wrong, errors


# ---------------------------------------------------------------- pipeline
class CurateCorpus:
    """``PipelineRunner.run`` of the shipped curation stage list."""

    n_docs = 3_000

    def __init__(self, seed: int, nproc: int):
        self.nproc = nproc
        self.docs = gen.documents(seed, self.n_docs)
        self.expected = gen.pipeline_rows_out(self.docs, CURATION_STAGES)
        self.rows_in = self.docs.num_rows

    def prepare(self, spark, data_dir: str) -> None:
        self.source_dir = os.path.join(data_dir, "documents.parquet")
        gen.write_table(self.docs, self.source_dir, files=self.nproc)
        self.input_bytes = dir_stats(self.source_dir)[1]

    def run(self, spark, out_dir: str, run_id: int) -> RunOutcome:
        from datapact_spark.config import DataPactConfig
        from datapact_spark.pipeline import PipelineRunner, build_stages

        config = DataPactConfig.model_validate({"pipelines": [{
            "pipeline_key": "corpus_prep", "source": "documents",
            "id_column": "doc_id", "text_column": "text", "stages": CURATION_STAGES}]})
        spec = config.pipelines[0]
        source = spark.read.parquet(self.source_dir)
        runner = PipelineRunner(spark, os.path.join(out_dir, "pipelines"))
        wall = time.time()
        with Stopwatch(spark) as clock:
            _, stages = runner.run(spec.pipeline_key, run_id, source, build_stages(spec))

        score = score_stages(self.expected, {s.stage: s.rows for s in stages})
        out = RunOutcome(**vars(score), seconds=clock.wall, cpu_seconds=clock.cpu,
                         rows_in=self.rows_in, pipeline_window=(wall, wall + clock.wall))
        for s in stages:
            out.layers[f"pipeline.stage_s.{s.stage}"] = s.seconds
            out.layers[f"pipeline.rows_out.{s.stage}"] = s.rows or 0
        files, size = dir_stats(os.path.join(out_dir, "pipelines"))
        out.layers.update({"ledger.bytes_written": size, "ledger.files_written": files})
        return out


# --------------------------------------------------------------- streaming
class StreamNearDedup:
    """``streaming_near_dedup`` draining a backlog of parquet files, one file
    per trigger (availableNow), against a prebuilt ``MinHashIndexStore``."""

    n_corpus = 2_000
    n_files = 1
    docs_per_file = 200

    def __init__(self, seed: int, nproc: int):
        self.nproc = nproc
        self.truth = gen.near_dup_stream(seed, self.n_corpus, self.n_files, self.docs_per_file)
        self.rows_in = sum(f.num_rows for f in self.truth.files)

    def prepare(self, spark, data_dir: str) -> None:
        from datapact_spark.ledger import MinHashIndexStore
        from datapact_spark.operators.dedup import minhash_band_hashes, minhash_signatures

        self.corpus_dir = os.path.join(data_dir, "corpus.parquet")
        self.incoming = os.path.join(data_dir, "incoming")
        gen.write_table(self.truth.corpus, self.corpus_dir, files=self.nproc)
        gen.write_backlog(self.truth.files, self.incoming)
        self.input_bytes = dir_stats(self.corpus_dir, self.incoming)[1]
        p = INDEX_PARAMS
        corpus = spark.read.parquet(self.corpus_dir)
        sigs = minhash_signatures(corpus, "doc_id", "text", p["num_hashes"], p["shingle_n"],
                                  p["seed"])
        self.pristine_index = os.path.join(data_dir, "index")
        MinHashIndexStore(spark, self.pristine_index).write(
            "corpus", minhash_band_hashes(sigs, p["bands"], p["num_hashes"] // p["bands"]), p)

    def run(self, spark, out_dir: str, run_id: int) -> RunOutcome:
        from datapact_spark.ledger import MinHashIndexStore
        from datapact_spark.streaming.incremental import streaming_near_dedup

        index = os.path.join(out_dir, "index")
        shutil.copytree(self.pristine_index, index)  # the index as set-up left it
        store = MinHashIndexStore(spark, index)
        corpus = spark.read.parquet(self.corpus_dir)
        accepted, rejected = os.path.join(out_dir, "accepted"), os.path.join(out_dir, "rejected")
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(self.incoming))
        with Stopwatch(spark) as clock:
            q = streaming_near_dedup(
                stream, corpus, store, "corpus",
                checkpoint_dir=os.path.join(out_dir, "checkpoint"),
                accepted_sink=accepted, rejected_sink=rejected)
            try:
                q.awaitTermination(150)
            finally:
                if q.isActive:
                    q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"near-dup stream failed: {q.exception()}")

        acc = {r[0] for r in spark.read.parquet(accepted).select("doc_id").collect()}
        rej = ({r[0]: r[1] for r in spark.read.parquet(rejected)
                .select("doc_id", "matched_corpus_id").collect()}
               if os.path.isdir(rejected) else {})
        score = score_routes(self.truth.routes, acc, rej)
        out = RunOutcome(**vars(score), seconds=clock.wall, cpu_seconds=clock.cpu,
                         rows_in=self.rows_in)
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if p.get("numInputRows", 0) > 0]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress]
        trigger = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
        out.batch_s = trigger
        index_files, index_bytes = dir_stats(os.path.join(index, "minhash_index"))
        base_files, base_bytes = dir_stats(os.path.join(self.pristine_index, "minhash_index"))
        sink_files, sink_bytes = dir_stats(accepted, rejected)
        out.layers.update({
            "streaming.batches": len(progress),
            "streaming.addbatch_s": statistics.median(add),
            "streaming.trigger_overhead_s": statistics.median(
                t - a for t, a in zip(trigger, add)),
            "streaming.accept_ratio": len(acc) / self.rows_in,
            "index.files": index_files,
            "ledger.bytes_written": sink_bytes + index_bytes - base_bytes,
            "ledger.files_written": sink_files + index_files - base_files,
        })
        out.index_store = store
        return out


class CurateAndGate:
    """The corpus side of a nightly schedule: ``PipelineRunner.run`` of the
    curation stage list over a document set, then the near-dup gate
    draining a backlog of crawl files. One run does both, in that order."""

    name = "curate_and_gate"

    def __init__(self, seed: int, nproc: int):
        self.curate = CurateCorpus(seed, nproc)
        self.gate = StreamNearDedup(seed, nproc)
        self.rows_in = self.curate.rows_in + self.gate.rows_in

    def prepare(self, spark, data_dir: str) -> None:
        self.curate.prepare(spark, os.path.join(data_dir, "curate"))
        self.gate.prepare(spark, os.path.join(data_dir, "gate"))
        self.input_bytes = self.curate.input_bytes + self.gate.input_bytes

    def run(self, spark, out_dir: str, run_id: int) -> RunOutcome:
        a = self.curate.run(spark, fresh_dir(os.path.join(out_dir, "curate")), run_id)
        b = self.gate.run(spark, fresh_dir(os.path.join(out_dir, "gate")), run_id)
        layers = {**a.layers, **b.layers}
        for k in ("ledger.bytes_written", "ledger.files_written"):
            layers[k] = a.layers[k] + b.layers[k]
        return RunOutcome(
            attempted=a.attempted + b.attempted, failed=a.failed + b.failed,
            wrong=a.wrong + b.wrong, errors=a.errors + b.errors,
            seconds=a.seconds + b.seconds, cpu_seconds=a.cpu_seconds + b.cpu_seconds,
            rows_in=self.rows_in,
            batch_s=b.batch_s, layers=layers, index_store=b.index_store,
            pipeline_window=a.pipeline_window)


WORKLOADS = {w.name: w for w in (ValidatePartitionedDirty, CurateAndGate)}

