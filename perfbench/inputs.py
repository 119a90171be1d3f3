"""Seeded benchmark inputs, written as parquet before the session starts.

Every input is drawn from the repository's code-corpus generator
(tests/make_corpus.py, GEN_VERSION 3), so the program only ever sees the
generated parquet. The seed picks the content. Two things are held fixed
so that one seed costs what the next does:

* the mix of file kinds, at the generator's expected rates (0.3%
  over-length files, 1.2% 40-120 KB files, the rest ordinary). The two
  rare kinds carry most of the bytes, so each is taken at evenly spaced
  size ranks of the seed's pool rather than in order;
* the number of partitions: repos are dealt to the 16 part_id buckets in
  order of their sha1, so every seed fills all of them (the generator's
  sha1-modulo buckets leave 13-16 filled) and the giant repo still sits
  in one partition.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tests"))

from make_corpus import generate_rows  # noqa: E402 (path insert above)

from textpipe_spark.kernel.rules import RuleConfig  # noqa: E402

PARTITIONS = 16
MAX_CHARS = RuleConfig().max_chars
LARGE_CHARS = 20_000
MIX = {"too_long": 0.003, "large": 0.012}


def _kind(content: str) -> str:
    if len(content) > MAX_CHARS:
        return "too_long"
    return "large" if len(content) > LARGE_CHARS else "normal"


def corpus_rows(n: int, seed: int) -> list[tuple]:
    """``n`` generator rows (repo, path, commit, lang, content, part_id)
    for ``seed``, in generator order, with the kind mix and the partition
    count fixed. The pool grows until it holds enough of the rare kinds."""
    want = {k: round(n * r) for k, r in MIX.items()}
    for pool_size in (max(2 * n, 4000), max(16 * n, 16000)):
        pool = generate_rows(pool_size, seed)
        by_kind: dict[str, list[int]] = {"normal": [], "large": [], "too_long": []}
        for i, row in enumerate(pool):
            by_kind[_kind(row[4])].append(i)
        if all(len(by_kind[k]) >= w for k, w in want.items()):
            break
    else:
        raise RuntimeError(f"seed {seed}: generator pool short of rare files")
    picked = by_kind["normal"][: n - sum(want.values())]
    for kind, w in want.items():
        have = sorted(by_kind[kind], key=lambda i: len(pool[i][4]))
        picked += [have[(2 * j + 1) * len(have) // (2 * w)] for j in range(w)]
    rows = [pool[i] for i in sorted(picked)]
    repos = sorted({r[0] for r in rows}, key=lambda r: hashlib.sha1(r.encode()).hexdigest())
    part = {repo: i % PARTITIONS for i, repo in enumerate(repos)}
    return [(*r, part[r[0]]) for r in rows]


def write_corpus(out_dir: str, rows: list[tuple]) -> None:
    """code_files parquet partitioned by part_id, 128-row row groups: the
    layout tests/make_corpus.write_corpus produces."""
    table = pa.table(
        {
            "repo": [r[0] for r in rows],
            "path": [r[1] for r in rows],
            "commit": [r[2] for r in rows],
            "lang": [r[3] for r in rows],
            "content": [r[4] for r in rows],
            "part_id": [r[5] for r in rows],
        }
    )
    pq.write_to_dataset(
        table, root_path=out_dir, partition_cols=["part_id"], row_group_size=128
    )


def documents_table(rows: list[tuple]) -> pa.Table:
    """documents(doc_id, source, text) for the pair queries: the corpus
    rows a quality filter would pass on length (over-length files are
    dropped first, as the filter does), doc_id = generator position."""
    keep = [(i, r) for i, r in enumerate(rows) if _kind(r[4]) != "too_long"]
    return pa.table(
        {
            "doc_id": pa.array([i for i, _ in keep], pa.int64()),
            "source": [r[0] for _, r in keep],
            "text": [r[4] for _, r in keep],
        }
    )


def write_documents(sf_dir: str, rows: list[tuple]) -> pa.Table:
    """One single-row-group documents.parquet, the shape of the sf*
    testdata documents table that the declared queries read
    (queries._read_parallel widens it)."""
    os.makedirs(sf_dir, exist_ok=True)
    table = documents_table(rows)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return table


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet data files, their total bytes) under ``path``."""
    files = total = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(dirpath, name))
    return files, total
