"""Seeded input tables for the ``registry`` workload.

The registry queries read three parquet tables from a data directory:
``events``, ``documents`` and ``embeddings``. This module writes them from a
seed with numpy and pyarrow, in the shapes the queries expect:

- ``events``: ``event_id`` dense from 0, ``ts`` sorted over 30 days from
  2024-01-01 (timestamp[us], no zone), ``user_id`` uniform over
  ``n_events // 67`` users, ``event_type`` one of five, ``value``
  exponential with mean 50 rounded to cents, ``props`` ``{"k": 0..99}``;
- ``documents``: 8 to 90 words drawn from a 30-word vocabulary; 5% of them
  repeat another document's text plus ``" dup"``; ``lang`` skewed towards
  ``en``, ``source`` cycling over 20 sources, ``n_chars`` the text length;
- ``embeddings``: 64-dimensional float32 unit vectors with a label 0..9.

The same seed writes byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
WORDS = np.array(
    "scan column window order sort part agg value line key join merge query "
    "group a vector hash slow stream filter fast the spark batch table small "
    "data big customer row".split()
)
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
DIM = 64
T_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(T_START_US + rng.integers(0, SPAN_US, n))
    users = max(1, n // 67)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), int(rng.integers(8, 91)))])
             for _ in range(n)]
    # near duplicates for the dedup queries: 5% of the documents are
    # another document's text with " dup" appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, n_events: int = 1000,
                 n_docs: int = 500, n_vecs: int = 500) -> str:
    """Write the three tables under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5EED])
    for name, table in (("events", _events(rng, n_events)),
                        ("documents", _documents(rng, n_docs)),
                        ("embeddings", _embeddings(rng, n_vecs))):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
