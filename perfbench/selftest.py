"""Self-test of the benchmark's ground truth; needs no Spark.

    python3 perfbench/selftest.py

It checks that the generators plant work for every check and stage, that
the scoring functions accept the answers a correct program gives, and
that one flipped verdict, stage count or route raises the error rate and
marks the run incorrect. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads as w  # noqa: E402

SEED = 7


def check(label: str, ok: bool) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {label}")
    if not ok:
        sys.exit(1)


def rate(score: w.Score) -> float:
    return score.failed / score.attempted


def main() -> None:
    # validation: both partitioned tasks FAIL on exactly the planted groups
    tables = gen.code_tables(SEED, 4_000, 30, dirty=True)
    check("dirty target plants mutations and dropped files",
          tables.mutated_rows > 0 and tables.dropped_rows > 0
          and tables.target.num_rows == tables.source.num_rows - tables.dropped_rows)
    check("failing (repo, lang) groups span several langs of one repo",
          len({lang for repo, lang in tables.failing_groups if repo == "repo_0"}) > 1)
    want = {k: "FAILURE" for k in w.TASK_KEYS}
    check("correct task verdicts score 0", rate(w.score_tasks(want, dict(want))) == 0)
    flipped = w.score_tasks(want, {**want, w.TASK_KEYS[0]: "SUCCESS"})
    check("one flipped task verdict raises error_rate and is wrong",
          rate(flipped) > 0 and flipped.wrong == 1)
    errored = w.score_tasks(want, {**want, w.TASK_KEYS[1]: "ERROR"})
    check("an ERROR task fails without being a wrong answer",
          errored.failed == 1 and errored.wrong == 0)
    groups = w.score_tasks(want, dict(want), wrong_groups={w.TASK_KEYS[0]})
    check("wrong failing groups under a right status are wrong",
          groups.failed == 1 and groups.wrong == 1)

    # pipeline: every stage has work, and a miscounted stage is caught
    docs = gen.documents(SEED, 600)
    rows = gen.pipeline_rows_out(docs, w.CURATION_STAGES)
    counts = [docs.num_rows, *rows.values()]
    check("filter, strip_boilerplate, exact_dedup and split each drop rows",
          all(counts[i + 1] < counts[i] for i in (0, 1, 3, 4)))
    check("chunking yields multi-window documents", rows["chunk"] > rows["split"])
    check("correct stage counts score 0", rate(w.score_stages(rows, dict(rows))) == 0)
    off = w.score_stages(rows, {**rows, "exact_dedup": rows["exact_dedup"] + 1})
    check("one miscounted stage raises error_rate and is wrong", rate(off) > 0 and off.wrong == 1)

    # near-dup gate: planted near-dups clear the threshold, novel docs do not
    truth = gen.near_dup_stream(SEED, 300, 3, 60)
    text = dict(zip(truth.corpus.column("doc_id").to_pylist(),
                    truth.corpus.column("text").to_pylist()))
    for f in truth.files:
        text.update(zip(f.column("doc_id").to_pylist(), f.column("text").to_pylist()))
    rejects = [(d, m) for d, (r, m) in truth.routes.items() if r == "reject"]
    check("planted near-dups have 3-shingle Jaccard >= 0.9 with their match",
          min(gen.jaccard(text[d], text[m]) for d, m in rejects) >= 0.9)
    accepted = {d for d, (r, _) in truth.routes.items() if r == "accept"}
    check("accepted docs share no 3-shingle with the corpus",
          all(gen.jaccard(text[a], text[c]) == 0 for a in list(accepted)[:20] for c in range(50)))
    check("every route kind is planted",
          {r for r, _ in truth.routes.values()} == {"accept", "reject", "drop"})
    rejected = dict(rejects)
    check("correct routes score 0", rate(w.score_routes(truth.routes, accepted, rejected)) == 0)
    doc, _ = rejects[0]
    moved = w.score_routes(truth.routes, accepted | {doc},
                           {d: m for d, m in rejected.items() if d != doc})
    check("one near-dup accepted instead of rejected raises error_rate and is wrong",
          rate(moved) > 0 and moved.wrong == 1)


if __name__ == "__main__":
    main()
