"""Seeded inputs, generated without Spark and cached per (workload, seed,
size) under ``.bench_cache/``.  The same seed always yields the same bytes
of input; the program under test only ever reads the written files.

A cache entry is complete once its ``_DONE`` file exists; a half-written
entry (a killed run) is regenerated.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from .common import CACHE

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), False),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), False),
        pa.field("lang", pa.string(), False),
        pa.field("res_class", pa.string(), False),
        pa.field("spans", pa.list_(SPAN_TYPE), False),
    ]
)
TEXT_SCHEMA = pa.schema([pa.field("doc_id", pa.string(), False), pa.field("text", pa.string())])

HUB_EVERY = 50
HUB_ITEMS = 400


def cached(key: str, build) -> tuple[Path, bool]:
    """(path, generated): ``build(path)`` fills a fresh dir unless the entry
    is already complete."""
    path = CACHE / key
    if (path / "_DONE").exists():
        return path, False
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    build(path)
    (path / "_DONE").write_text("")
    return path, True


def span_docs(indices, seed: int) -> list[dict]:
    """Hub-skewed span documents (fixtures.distributed.doc_for_index: one
    400-item hub page per 50 docs), one per global index."""
    from list_extractor_spark.fixtures.distributed import doc_for_index

    return [doc_for_index(i, seed, HUB_EVERY, HUB_ITEMS) for i in indices]


def write_span_docs(path: Path, docs: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_SCHEMA), path)


def sample_span_docs(path: Path, k: int, rng: random.Random) -> list[dict]:
    """``k`` docs of a staged corpus drawn by ``rng.sample`` over its rows in
    file order, converting only the drawn rows to Python."""
    files = sorted(path.glob("*.parquet"))
    counts = [pq.ParquetFile(f).metadata.num_rows for f in files]
    picked = rng.sample(range(sum(counts)), k)
    out, start = {}, 0
    for f, n in zip(files, counts):
        local = [i - start for i in picked if start <= i < start + n]
        if local:
            out.update(zip((start + i for i in local), pq.read_table(f).take(local).to_pylist()))
        start += n
    return [out[i] for i in picked]


def span_corpus(seed: int, n_docs: int, n_files: int) -> tuple[Path, bool]:
    """``n_docs`` span docs split into ``n_files`` parquet files (enough
    files that the scan runs on every core)."""

    def build(path: Path) -> None:
        per = -(-n_docs // n_files)
        for f in range(n_files):
            idx = range(f * per, min(n_docs, (f + 1) * per))
            write_span_docs(path / f"part-{f:03d}.parquet", span_docs(idx, seed))

    return cached(f"span_corpus_s{seed}_n{n_docs}_f{n_files}", build)


# ------------------------------------------------------------ text docs

# the vocabulary and length range of the sf0.1 ``documents`` table
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def text_doc(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(12, 60)))


def near_copy(rng: random.Random, text: str) -> str:
    """A near-duplicate: about one word in twenty replaced (Jaccard of the
    3-shingle sets stays far above the 0.5 verdict threshold)."""
    words = text.split()
    for _ in range(max(1, len(words) // 20)):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


def write_text_docs(path: Path, rows: list[tuple[str, str]]) -> None:
    pq.write_table(
        pa.Table.from_pylist([{"doc_id": d, "text": t} for d, t in rows], schema=TEXT_SCHEMA),
        path,
    )
