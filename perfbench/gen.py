"""Seeded input generators and the ground truth each one implies.

Everything here is plain Python + numpy + pyarrow: inputs are written
to parquet without Spark, and every expected outcome (task verdicts,
failing partition groups, pipeline rows per stage, near-dup routes) is
derived from the generator's own parameters by a pure-Python reference
that shares no code with ``datapact_spark``.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the lang set the shipped code-table example's `lang_known` constraint accepts
LANGS = ["py", "java", "scala", "go", "rs", "cpp", "js", "sql"]
_CODE_VOCAB = [
    "def", "return", "class", "import", "for", "while", "if", "else", "val",
    "var", "fn", "func", "let", "const", "match", "case", "spark", "table",
    "select", "join", "group", "filter", "map", "reduce", "hash", "key",
    "value", "row", "col", "schema", "int", "str", "self", "args", "yield",
    "async", "await", "try", "except", "raise", "pub", "impl", "struct",
    "enum", "trait", "mod", "use", "crate",
]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def write_table(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as a parquet directory of ``files`` row slices."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files) if n else 1
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows or i == 0:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _join_tokens(vocab: list[str], idx: np.ndarray, lengths: np.ndarray) -> list[str]:
    words = np.asarray(vocab, dtype=object)[idx]
    ends = np.cumsum(lengths)
    starts = ends - lengths
    return [" ".join(words[s:e]) for s, e in zip(starts, ends)]


# --------------------------------------------------------------- code tables
@dataclass
class CodeTables:
    """A source/target code-table pair plus the ground truth of their diff."""

    source: pa.Table
    target: pa.Table
    repos: pa.Table
    mutated_rows: int = 0
    dropped_rows: int = 0
    failing_groups: set[tuple[str, str]] = field(default_factory=set)


def code_tables(
    seed: int,
    n_files: int,
    n_repos: int,
    skew: float = 0.2,
    dirty: bool = False,
) -> CodeTables:
    """``(repo, path, commit, lang, content, n_bytes)`` rows.

    The first ``skew`` share of files lands in ``repo_0`` (the mega-repo);
    ``lang`` is drawn independently of ``repo`` so ``[repo, lang]`` groups
    really split each repo. With ``dirty`` the target gets content
    mutations in the mega-repo and two other repos, and dropped files in
    two more; the failing ``(repo, lang)`` groups are exactly those rows'
    groups.
    """
    rng = _rng(seed, 1)
    ids = np.arange(n_files)
    repo_idx = np.where(ids < int(n_files * skew), 0, rng.integers(1, n_repos, n_files))
    lang_idx = rng.integers(0, len(LANGS), n_files)
    n_tok = rng.integers(8, 41, n_files)
    content = _join_tokens(_CODE_VOCAB, rng.integers(0, len(_CODE_VOCAB), n_tok.sum()), n_tok)
    dirs = rng.integers(0, 1000, n_files)
    repo = [f"repo_{r}" for r in repo_idx]
    lang = [LANGS[i] for i in lang_idx]
    path = [f"src/{d}/file_{i}.{lang[i]}" for i, d in enumerate(dirs)]
    commit = [hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in ids]

    def table(rows: np.ndarray, text: list[str]) -> pa.Table:
        return pa.table({
            "repo": [repo[i] for i in rows],
            "path": [path[i] for i in rows],
            "commit": [commit[i] for i in rows],
            "lang": [lang[i] for i in rows],
            "content": [text[i] for i in rows],
            "n_bytes": pa.array([len(text[i]) for i in rows], pa.int64()),
        })

    repos = pa.table({
        "repo": [f"repo_{r}" for r in range(n_repos)],
        "owner": [f"team_{r % 17}" for r in range(n_repos)],
    })
    out = CodeTables(source=table(ids, content), target=None, repos=repos)
    tgt_content = list(content)
    keep = np.ones(n_files, bool)
    if dirty:
        picked = rng.choice(np.arange(1, n_repos), 4, replace=False)
        mutate_in, drop_in = [0, *picked[:2]], picked[2:]
        for r in mutate_in:
            for i in rng.choice(np.flatnonzero(repo_idx == r), 3, replace=False):
                tgt_content[i] = content[i] + " /*corrupted*/"
                out.mutated_rows += 1
                out.failing_groups.add((repo[i], lang[i]))
        for r in drop_in:
            for i in rng.choice(np.flatnonzero(repo_idx == r), 3, replace=False):
                keep[i] = False
                out.dropped_rows += 1
                out.failing_groups.add((repo[i], lang[i]))
    out.target = table(ids[keep], tgt_content)
    return out


def write_code_tables(tables: CodeTables, data_dir: str, files: int) -> None:
    write_table(tables.source, os.path.join(data_dir, "code_src.parquet"), files)
    write_table(tables.target, os.path.join(data_dir, "code_tgt.parquet"), files)
    write_table(tables.repos, os.path.join(data_dir, "repos.parquet"))


def write_backlog(files: list[pa.Table], path: str) -> None:
    """One parquet file per table, with increasing mtimes: the file stream
    source drains a backlog in modification-time order."""
    os.makedirs(path)
    t = time.time() - 3600
    for i, table in enumerate(files):
        p = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, p)
        os.utime(p, (t + i, t + i))


# ------------------------------------------------------------- documents
_BOILER = [
    "# Copyright (c) 2024 Example Corp. All rights reserved.",
    "# Licensed under the Apache License, Version 2.0",
    "<!-- generated by sitegen 3.1, do not edit -->",
    "Subscribe to our newsletter for weekly updates",
    "Cookie notice: this site uses cookies to improve your experience",
    "All content is provided as is without warranty of any kind",
]


_WORDS = [f"w{i}" for i in range(30_000)]


def documents(seed: int, n_docs: int) -> pa.Table:
    """``(doc_id, text)`` documents for the curation pipeline.

    Planted work for every stage: short docs (filter), boilerplate header
    and footer lines shared by many docs plus a few all-boilerplate docs
    (strip_boilerplate), emails / IPs / AWS keys / hex secrets
    (redact_pii), whitespace- and case-variant exact duplicates
    (exact_dedup) and multi-window documents (chunk / pack).
    """
    rng = _rng(seed, 2)
    kind = rng.random(n_docs)
    n_lines = rng.integers(3, 40, n_docs)
    header = rng.random(n_docs) < 0.6
    footer = rng.random(n_docs) < 0.3
    line_len = rng.integers(6, 25, n_lines.sum())
    line_pii = rng.random(n_lines.sum())
    words = rng.integers(0, len(_WORDS), line_len.sum())
    alnum = np.asarray(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
    hexd = np.asarray(list("0123456789abcdef"))
    texts: list[str] = []
    li = wi = 0
    for d in range(n_docs):
        if kind[d] < 0.02:
            texts.append(f"w{d % 97} ok")  # dropped by the length filter
            continue
        if kind[d] < 0.04:
            texts.append("\n".join(_BOILER[(d + k) % 3] for k in range(2)))
            continue
        lines = [_BOILER[d % 3]] if header[d] else []
        for _ in range(n_lines[d]):
            ws = [_WORDS[w] for w in words[wi:wi + line_len[li]]]
            wi += line_len[li]
            r = line_pii[li]
            li += 1
            if r < 0.05:
                ws.insert(1, f"user{wi % 10_000}@example.org")
            elif r < 0.08:
                ws.insert(2, f"10.{wi % 255}.{li % 255}.{d % 255}")
            elif r < 0.09:
                ws.append("AKIA" + "".join(alnum[rng.integers(0, 36, 16)]))
            elif r < 0.10:
                ws.append("".join(hexd[rng.integers(0, 16, 32)]))
            lines.append(" ".join(ws))
        if footer[d]:
            lines.append(_BOILER[3 + d % 3])
        texts.append("\n".join(lines))
    # exact duplicates that differ only in whitespace and case
    for i in rng.choice(len(texts), max(1, n_docs // 20), replace=False):
        t = texts[i].replace(" ", "  ", 3).replace(" ", "\t", 1)
        texts.append(t.upper() if i % 2 else t + "  ")
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts,
    })


_PII = [  # applied in order, as the redaction spec lists them
    ("EMAIL", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")),
    ("IPV4", re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")),
    ("AWS_KEY", re.compile(r"AKIA[0-9A-Z]{16}")),
    ("HEX_SECRET", re.compile(r"\b[0-9a-f]{32,}\b")),
]
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _md5_bucket(doc_id: int, salt: str) -> int:
    return int(hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:15], 16) % 1_000_000


def pipeline_rows_out(docs: pa.Table, stages: list[dict]) -> dict[str, int]:
    """Rows out per stage of a corpus-curation stage list, computed by a
    plain-Python reference of each stage's documented semantics."""
    rows = list(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    chunks: list[int] = []
    out: dict[str, int] = {}
    for st in stages:
        kind = st["kind"]
        if kind == "filter":
            if st["where"] != "length(text) > 20":
                raise ValueError(f"reference has no model of filter {st['where']!r}")
            rows = [(i, t) for i, t in rows if len(t) > 20]
        elif kind == "strip_boilerplate":
            seen: dict[str, int] = {}
            for _, t in rows:
                for line in set(t.split("\n")):
                    if line.strip(" "):
                        seen[line] = seen.get(line, 0) + 1
            boiler = {line for line, n in seen.items() if n >= st["min_docs"]}
            rows = [
                (i, "\n".join(x for x in t.split("\n") if x not in boiler)) for i, t in rows
            ]
            rows = [(i, t) for i, t in rows if t != ""]
        elif kind == "redact_pii":
            for name, pat in _PII:
                rows = [(i, pat.sub(f"<{name}>", t)) for i, t in rows]
        elif kind == "exact_dedup":
            keep: dict[str, tuple[int, str]] = {}
            for i, t in rows:
                fp = _WS.sub(" ", t.strip(" ")).lower()
                if fp not in keep or i < keep[fp][0]:
                    keep[fp] = (i, t)
            rows = sorted(keep.values())
        elif kind == "split":
            fr, acc, bounds = st["fractions"], 0.0, []
            total = float(sum(fr.values()))
            for name, w in fr.items():
                acc += w / total
                bounds.append((name, int(round(acc * 1_000_000))))
            bounds[-1] = (bounds[-1][0], 1_000_000)

            def label(i: int) -> str:
                b = _md5_bucket(i, "split")
                return next(name for name, hi in bounds if b < hi)

            rows = [(i, t) for i, t in rows if label(i) == st["keep"]]
        elif kind == "chunk":
            stride = st["max_tokens"] - st["overlap"]
            chunks = [
                max(len(re.split(r"\s+", t.strip(" "))) - st["overlap"] - 1, 0) // stride + 1
                for _, t in rows
            ]
        elif kind == "pack":
            pass  # one output row per chunk
        else:
            raise ValueError(f"reference has no model of stage kind {kind!r}")
        out[st.get("name") or kind] = sum(chunks) if kind in ("chunk", "pack") else len(rows)
    return out


# ------------------------------------------------------- near-dup stream
@dataclass
class NearDupStream:
    """A MinHash-indexed corpus, a backlog of incoming files, and the route
    each incoming doc must take through the near-dup gate."""

    corpus: pa.Table
    files: list[pa.Table]
    # doc_id -> ("accept", None) | ("reject", matched id) | ("drop", None)
    routes: dict[int, tuple[str, int | None]]


def _shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.strip(" ").lower().split()
    return {tuple(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def near_dup_stream(
    seed: int, n_corpus: int, n_files: int, docs_per_file: int, doc_words: int = 60
) -> NearDupStream:
    """Incoming docs: 10 % near-dups of corpus docs (rejected with that
    corpus id), 3 % near-dups of a doc admitted by an earlier file
    (rejected with the admitted id), one intra-file near-dup pair per
    file (the larger id is dropped) and novel docs (accepted). Near-dups
    change the last word only, so their 3-shingle Jaccard is ~0.95; novel
    docs draw from a 30k-word vocabulary and share no shingles."""
    rng = _rng(seed, 3)

    def novel() -> str:
        return " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), doc_words))

    def variant(text: str) -> str:
        return text.rsplit(" ", 1)[0] + f" z{rng.integers(0, 1000)}"

    corpus_text = [novel() for _ in range(n_corpus)]
    routes: dict[int, tuple[str, int | None]] = {}
    admitted: list[tuple[int, str]] = []
    files = []
    next_id = 10_000_000
    for _ in range(n_files):
        ids, texts = [], []

        def add(text: str, route: tuple[str, int | None]) -> int:
            nonlocal next_id
            ids.append(next_id)
            texts.append(text)
            routes[next_id] = route
            next_id += 1
            return next_id - 1

        n_pair = 2
        n_corpus_dup = max(1, docs_per_file // 10)
        n_cross = max(1, docs_per_file * 3 // 100) if admitted else 0
        for c in rng.choice(n_corpus, n_corpus_dup, replace=False):
            add(variant(corpus_text[c]), ("reject", int(c)))
        for k in rng.choice(len(admitted), n_cross, replace=False) if n_cross else []:
            aid, atext = admitted[k]
            add(variant(atext), ("reject", aid))
        base = novel()
        keeper = add(base, ("accept", None))
        add(variant(base), ("drop", None))
        fresh = [(add(t, ("accept", None)), t) for t in
                 (novel() for _ in range(docs_per_file - n_corpus_dup - n_cross - n_pair))]
        admitted.extend([(keeper, base), *fresh])
        order = rng.permutation(len(ids))
        files.append(pa.table({
            "doc_id": pa.array(np.asarray(ids)[order], pa.int64()),
            "text": [texts[i] for i in order],
        }))
    corpus = pa.table({
        "doc_id": pa.array(np.arange(n_corpus), pa.int64()),
        "text": corpus_text,
    })
    return NearDupStream(corpus=corpus, files=files, routes=routes)
