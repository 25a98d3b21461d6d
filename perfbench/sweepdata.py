"""Seeded inputs for the operator sweep.

The registry queries read ``events``, ``documents`` and ``embeddings``
parquet tables from an ``sf`` directory.  This module writes those three
tables from a seed with numpy and pyarrow, so the sweep's inputs depend on
``--seed`` only and never on files outside the benchmark's work directory.
Row counts scale with ``sf`` the way the repository's shared test data does
(events 10^6·sf, documents 5·10^4·sf, embeddings 2·10^4·sf).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the 30-word vocabulary of the shared test data's documents
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
BASE_TS_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps_us = rng.exponential(26.0, n) * 1e6
    ts = BASE_TS_US + np.cumsum(gaps_us).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup queries'
            # pair outputs are never empty
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            length = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, length)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write_sweep_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the three tables under ``out_dir`` and return it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": _events(rng, int(1_000_000 * sf)),
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, int(20_000 * sf)),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
