"""SimHash 64-bit fingerprints, vectorized in numpy for pandas_udf execution.

fingerprint(doc) = sign-aggregate of the shingle hash bits: bit i of the
fingerprint is 1 iff the (weighted) count of shingles with bit i set exceeds
half the total. Near-duplicate docs have fingerprints within a small Hamming
distance. Used as a cheap secondary filter after LSH candidate generation and
as a standalone `simhash` dedup strategy (band the 64 bits into 4x16-bit
blocks; dups within Hamming distance 3 share at least one block — the
classic Charikar/Manku-Jain-Sarma construction).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .shingles import hash_shingles_batch

__all__ = ["simhash", "simhash_batch", "simhash_bands"]


def simhash(base_hashes: np.ndarray, weights: np.ndarray | None = None) -> int:
    """64-bit SimHash (returned as int64 bit pattern) of distinct shingle
    hashes. Empty input -> 0."""
    if base_hashes.size == 0:
        return 0
    # bits: (m, 64) matrix of 0/1
    x = base_hashes.astype(np.uint64)
    bits = ((x[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.float64
    )
    if weights is None:
        score = bits.sum(axis=0) - x.size / 2.0
    else:
        w = weights.astype(np.float64)
        score = (bits * w[:, None]).sum(axis=0) - w.sum() / 2.0
    fp = 0
    for i in np.nonzero(score > 0)[0]:
        fp |= 1 << int(i)
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def simhash_batch(
    texts: pd.Series, n: int = 3, mode: str = "word", seed: int = 42
) -> pd.Series:
    out = np.zeros(len(texts), dtype=np.int64)
    for i, base in enumerate(hash_shingles_batch(texts, n, mode, seed)):
        out[i] = simhash(base)
    return pd.Series(out)


def simhash_bands(fp: int, n_bands: int = 4) -> list[int]:
    """Split a 64-bit fingerprint into n_bands keyed blocks; two fingerprints
    within Hamming distance (n_bands - 1) share at least one block."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    u = fp & ((1 << 64) - 1)
    return [((u >> (i * width)) & mask) | (i << width) for i in range(n_bands)]
