"""Seeded benchmark inputs, generated once per (workload input, seed) and
cached as parquet under ``.perfbench_cache/`` in the checkout.

Pages come from ``sources.pages.generate_pages`` (the archetype mix:
60/30/10 ja/en/mixed; UTF-8, Shift_JIS, EUC-JP, ISO-2022-JP, UTF-16).
Generation costs ~4 ms/page in one process, so the page table is made of
fixed-size chunks, each ``generate_pages(PAGE_CHUNK, seed=<seed, chunk>)``
written to its own parquet file by a few child processes.  Chunk
boundaries do not depend on the number of processes, so a seed gives the
same bytes on any host.

The dedup corpus is random token text over a fixed vocabulary with a
planted share of near-duplicates: copies of an original that reorder its
tokens and repeat some of them.  A copy has the original's distinct token
set, so SimHash gives both the same fingerprint and
``dedup_components_simhash`` must put them in one component.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")

PAGE_CHUNK = 250
CORPUS_FILES = 16
EPOCH = _dt.datetime(2026, 1, 1)

VOCAB_SIZE = 8192
DOC_TOKENS = (40, 120)
PLANTED_SHARE = 0.10  # share of corpus documents that are planted copies
COPIES_PER_GROUP = (1, 3)


def _chunk_seed(seed: int, chunk: int) -> int:
    return (seed * 1_000_003 + chunk) % (2**63)


def _chunks(n: int) -> list[tuple[int, int]]:
    """(chunk index, pages in it) covering n pages."""
    return [(c, min(PAGE_CHUNK, n - c * PAGE_CHUNK)) for c in range((n + PAGE_CHUNK - 1) // PAGE_CHUNK)]


def page_chunk(seed: int, chunk: int, n: int) -> pd.DataFrame:
    """Pages [chunk * PAGE_CHUNK, + n) of the seed's page table."""
    from contentextractor_spark.sources.pages import generate_pages

    df = generate_pages(n, seed=_chunk_seed(seed, chunk))
    base = chunk * PAGE_CHUNK
    # generate_pages numbers paths from 0 in every call; renumber so urls
    # stay unique across chunks
    df["url"] = pd.Series(
        [u.rsplit("/p", 1)[0] + f"/p{base + i}" for i, u in enumerate(df["url"])],
        dtype="string",
    )
    df["warc_ts"] = pd.Series(
        [EPOCH + _dt.timedelta(seconds=base + i) for i in range(n)],
        dtype="datetime64[us]",
    )
    return df


def generate_page_table(n: int, seed: int) -> pd.DataFrame:
    """The benchmark's page table: ``n`` pages in chunk order."""
    return pd.concat([page_chunk(seed, c, k) for c, k in _chunks(n)], ignore_index=True)


def _write_page_chunks(out_dir: str, seed: int, chunks: list[tuple[int, int]]) -> None:
    for c, k in chunks:
        table = pa.Table.from_pandas(page_chunk(seed, c, k), schema=PAGES_SCHEMA, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"part-{c:05d}.parquet"))


# probability that an original gets copies, so that copies make up
# PLANTED_SHARE of the corpus: q * mean_copies / (1 + q * mean_copies)
_MEAN_COPIES = sum(COPIES_PER_GROUP) / 2
_GROUP_P = PLANTED_SHARE / (_MEAN_COPIES * (1 - PLANTED_SHARE))


def _vocab() -> list[str]:
    syll = [c + v for c in "bdfgkmnprstvz" for v in "aeiou"]
    rng = np.random.default_rng(12345)
    words = set()
    while len(words) < VOCAB_SIZE:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[int(i)] for i in rng.integers(0, len(syll), size=k)))
    return sorted(words)


def generate_corpus(n: int, seed: int) -> pd.DataFrame:
    """(doc_id, text, original): ``original`` is the doc_id of the planted
    group's original for every member of a planted group, else -1."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab())
    texts: list[str] = []
    group: list[int] = []  # index into texts of the group's original, or -1
    while len(texts) < n:
        toks = vocab[rng.integers(0, VOCAB_SIZE, size=int(rng.integers(*DOC_TOKENS)))]
        orig = len(texts)
        texts.append(" ".join(toks))
        group.append(-1)
        if rng.random() < _GROUP_P:
            copies = int(rng.integers(COPIES_PER_GROUP[0], COPIES_PER_GROUP[1] + 1))
            copies = min(copies, n - len(texts))
            if copies:
                group[orig] = orig
            for _ in range(copies):
                rep = rng.choice(toks, size=int(rng.integers(1, 6)))
                perm = rng.permutation(np.concatenate([toks, rep]))
                texts.append(" ".join(perm))
                group.append(orig)
    # shuffle ids so a copy's id is as often below its original's as above
    ids = rng.permutation(n).astype("int64")
    original = np.array([ids[g] if g >= 0 else -1 for g in group], dtype="int64")
    return pd.DataFrame({"doc_id": ids, "text": texts, "original": original})


def _write(df: pd.DataFrame, path: str, schema: pa.Schema, n_files: int) -> None:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    chunk = (len(df) + n_files - 1) // n_files
    for i in range(n_files):
        part = df.iloc[i * chunk:(i + 1) * chunk]
        if len(part):
            pq.write_table(
                pa.Table.from_pandas(part, schema=schema, preserve_index=False),
                os.path.join(tmp, f"part-{i:05d}.parquet"),
            )
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
CORPUS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("original", pa.int64())]
)


def pages_path(n: int, seed: int, workers: int) -> str:
    """Parquet directory of the page table for (n, seed), one file per
    chunk, made on first use by ``workers`` child processes."""
    path = os.path.join(CACHE_DIR, f"pages-n{n}-s{seed}")
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    chunks = _chunks(n)
    procs = [
        subprocess.Popen(
            [
                sys.executable, "-c",
                "import json, sys; sys.path.insert(0, sys.argv[1]); "
                "from perfbench.inputs import _write_page_chunks as w; "
                "w(sys.argv[2], int(sys.argv[3]), json.loads(sys.argv[4]))",
                ROOT, tmp, str(seed), json.dumps(chunks[i::workers]),
            ]
        )
        for i in range(min(workers, len(chunks)))
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"page generation failed: exit codes {codes}")
    os.rename(tmp, path)
    return path


def corpus_path(n: int, seed: int) -> str:
    """Parquet directory of the dedup corpus for (n, seed), made on first use."""
    path = os.path.join(CACHE_DIR, f"corpus-n{n}-s{seed}")
    if not os.path.isdir(path):
        _write(generate_corpus(n, seed), path, CORPUS_SCHEMA, CORPUS_FILES)
    return path
