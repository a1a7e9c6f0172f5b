"""MinHash signatures, vectorized in numpy for pandas_udf execution.

Signature k of a shingle set S is ``min_{x in S} pi_k(h(x))`` where
``pi_k(x) = (a_k * x + b_k) mod 2^64`` with a_k odd. An affine map with an
odd multiplier is a bijection on [0, 2^64) (a_k is invertible mod 2^64), so
each pi_k is a genuine permutation of the hash space — the practical MinHash
permutation family (equivalent in spirit to the mod-prime family used by
pyspark.ml.feature.MinHashLSH, but branch-free and exactly vectorizable in
uint64 with natural overflow wraparound).

The whole signature for an Arrow batch row is one numpy broadcast
(K x m elementwise multiply-add, min over axis 1) — no per-permutation string
hashing, no Python in the inner loop. This is the vectorized path mandated by
BASELINE.json input_hint ("no per-row Python" beyond the Arrow batch loop).

Signatures are emitted as int64 (Spark has no unsigned types); the uint64 bit
pattern is reinterpreted, which preserves equality — all LSH banding needs.
Empty shingle sets (blank or None text) get no signature (None), the JVM
kernel's contract: lsh.band_hash_array emits no buckets for a null
signature, so blank docs never pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .shingles import hash_shingles_batch

__all__ = ["minhash_params", "minhash_batch"]


def minhash_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_batch(
    texts: pd.Series,
    num_perm: int = 128,
    n: int = 3,
    mode: str = "word",
    seed: int = 42,
) -> pd.Series:
    """pandas_udf body: Series[str] -> Series[list[int]] signatures.

    Shingle hashing is batch-vectorized (hash_shingles_batch): one blake2b
    per distinct token per batch, numpy sliding-window combine — no
    per-shingle Python.
    """
    a, b = minhash_params(num_perm, seed)
    bases = hash_shingles_batch(texts, n, mode, seed)
    out: list = [None] * len(bases)

    # batch the permutation math: per-doc broadcasts (K x m each) spend most
    # of their time in allocation; instead concatenate all shingle hashes and
    # run ONE K x T multiply-add per ~64 MB chunk with a segmented min
    # (np.minimum.reduceat) — same signatures, ~2-3x the throughput, and the
    # signature UDF is the dominant corpus-scale cost (PERF.md)
    chunk_T = max(1, (1 << 23) // max(num_perm, 1))  # K * chunk_T * 8B ~ 64MB
    pend: list[int] = []
    pend_T = 0

    def flush() -> None:
        nonlocal pend, pend_T
        if not pend:
            return
        flat = np.concatenate([bases[i] for i in pend]).astype(np.uint64)
        offs = np.zeros(len(pend), dtype=np.intp)
        np.cumsum([bases[i].size for i in pend[:-1]], out=offs[1:])
        with np.errstate(over="ignore"):
            big = a[:, None] * flat[None, :] + b[:, None]
            mins = np.minimum.reduceat(big, offs, axis=1)
        for j, i in enumerate(pend):
            out[i] = mins[:, j].view(np.int64)
        pend, pend_T = [], 0

    for idx, base in enumerate(bases):
        if base.size == 0:
            continue  # no shingles -> no signature (stays None)
        pend.append(idx)
        pend_T += base.size
        if pend_T >= chunk_T:
            flush()
    flush()
    return pd.Series(out)
