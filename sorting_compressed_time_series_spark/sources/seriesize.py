"""Seriesization: deterministic event-time synthesis for token sequences.

The input table has no timestamps (it is a corpus of pre-tokenized
sequences); the engine interprets each row as one series with
``value[i] = tokens[i]`` and a synthetic, *mostly ordered* event time

    ts[i] = t0(doc) + i*STEP + jitter(doc,i) - ooo_displacement(doc,i)

mirroring the reference's out-of-order regime (FIXTURES.md F2
``nearly_sorted``: a controlled fraction of points displaced backwards).
Pure function of (seed, doc index, position): identical at any
parallelism. All vectorized over the flat token stream of a batch.
"""

from __future__ import annotations

import numpy as np

from ..functions.hashing import hash2

EPOCH0 = 1_700_000_000_000_000  # µs, fixed engine epoch
STEP_US = 100_000  # nominal inter-point step (0.1 s): a 1024-token doc
# spans ~100 s -> ~100 tier-1 (1 s) windows, ~2 tier-2 (1 m) windows
OOO_RATE = 50  # 1-in-50 points displaced (2%, FIXTURES nearly_sorted regime)
OOO_MAX_DISP = 4_000_000  # ≤ 40 steps backwards


def doc_t0(doc_index: np.ndarray, seed: int = 42) -> np.ndarray:
    """Per-doc series start time (hash over the per-doc array, not per point)."""
    return (
        hash2(np.asarray(doc_index, dtype=np.uint64), 3, seed)
        % np.uint64(86_400_000_000)
    ).astype(np.int64) + EPOCH0


def synth_timestamps(
    doc_index: np.ndarray, positions: np.ndarray, seed: int = 42,
    t0: np.ndarray | None = None,
) -> np.ndarray:
    """Event time for each (doc, position) pair (flat arrays).

    One hash per point; jitter / OOO-flag / displacement come from disjoint
    bit fields of the same 64-bit hash (the kernels are memory-bandwidth
    bound at full parallelism — every avoided pass is throughput).
    Pass ``t0`` (flat, from `doc_t0` repeated per point) to skip the
    per-point t0 hash."""
    doc_index = np.asarray(doc_index, dtype=np.uint64)
    positions = np.asarray(positions, dtype=np.int64)
    if t0 is None:
        t0 = doc_t0(doc_index, seed)
    h = hash2(doc_index << np.uint64(20), positions, seed + 9)
    jitter = ((h & np.uint64(0xFFFF)) % np.uint64(STEP_US // 2)).astype(np.int64)
    ts = t0 + positions * STEP_US + jitter
    ooo = ((h >> np.uint64(16)) % np.uint64(OOO_RATE)) == 0
    ooo &= positions > 0
    # displacement only materialized on the ~2% displaced subset (the
    # full-size modulo+cast passes were ~1/3 of this kernel's traffic)
    idx = np.flatnonzero(ooo)
    if len(idx):
        disp = ((h[idx] >> np.uint64(32)) % np.uint64(OOO_MAX_DISP)).astype(np.int64) + 1
        ts[idx] -= disp
    return ts
