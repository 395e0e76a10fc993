"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow in the client process: the engine only ever
sees the parquet files these functions write, and the same seed always
writes the same bytes of data (row order and values).

The corpus law follows the repo's scale rehearsal: a document is a base
of ``WORDS`` vocabulary words plus ``TAIL`` document-unique tokens. A
``frac_clustered`` share of documents draws its base from a cluster id
``floor(1/u)`` with ``u`` uniform on (0, 1], so cluster sizes follow a
Zipf law and members of one cluster are near-duplicates (they differ
only in their tails). ``frac_non_ascii`` documents carry accented
tokens, which sends them down the per-row Unicode path of the text
kernels.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = 60
TAIL = 8
VOCAB = 30_000
N_STRATA = 20

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, elementwise on uint64 (wraps by design)."""
    with np.errstate(over="ignore"):
        x = x ^ (x >> np.uint64(30))
        x = x * _M1
        x = x ^ (x >> np.uint64(27))
        x = x * _M2
        return x ^ (x >> np.uint64(31))


def synth_corpus(
    n_docs: int,
    seed: int,
    frac_clustered: float = 0.3,
    frac_non_ascii: float = 0.0,
) -> dict:
    """Build the corpus columns in memory. Returns ``doc_id``, ``text``,
    ``lang`` plus ``n_tokens`` per doc, the ground truth the checks
    use."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_docs, dtype=np.int64)
    u = 1.0 - rng.random(n_docs)  # uniform on (0, 1]
    clustered = rng.random(n_docs) < frac_clustered
    cluster = np.floor(1.0 / u).astype(np.uint64)
    salt = np.uint64(seed & 0xFFFFFFFF) << np.uint64(32)
    base_seed = np.where(
        clustered, cluster, ids.astype(np.uint64) + np.uint64(1 << 40)
    ) ^ salt
    j = np.arange(WORDS, dtype=np.uint64)
    words = _mix64(base_seed[:, None] * np.uint64(1_000_003) + j[None, :])
    words = (words % np.uint64(VOCAB)).astype(np.int64)
    non_ascii = rng.random(n_docs) < frac_non_ascii

    vocab = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
    texts = []
    for d in range(n_docs):
        toks = vocab[words[d]].tolist()
        if non_ascii[d]:
            toks[0] = "Élan" + toks[0]
            tail = [f"é{d}x{t}" for t in range(TAIL)]
        else:
            tail = [f"u{d}x{t}" for t in range(TAIL)]
        texts.append(" ".join(toks + tail))

    n_tokens = np.array([t.count(" ") + 1 for t in texts], dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array([f"l{i % N_STRATA}" for i in range(n_docs)], dtype=object),
        "n_tokens": n_tokens,
    }


def write_corpus(corpus: dict, out_dir: str, n_files: int = 8) -> None:
    """Write ``doc_id, text, lang`` as ``n_files`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(corpus["doc_id"])
    step = -(-n // n_files)
    for f in range(n_files):
        sl = slice(f * step, min(n, (f + 1) * step))
        tbl = pa.table(
            {
                "doc_id": pa.array(corpus["doc_id"][sl], pa.int64()),
                "text": pa.array(corpus["text"][sl], pa.string()),
                "lang": pa.array(corpus["lang"][sl], pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(out_dir, f"part-{f:03d}.parquet"))


def seeded_order(names: list[str], seed: int, round_idx: int) -> list[str]:
    """The query order of one round: a permutation drawn from
    ``(seed, round_idx)``."""
    out = list(names)
    random.Random(seed * 1_000_003 + round_idx).shuffle(out)
    return out
