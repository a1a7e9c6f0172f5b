"""Shingling + stable 64-bit hashing (vectorized pandas UDF internals).

The sketch path (MinHash/SimHash/LSH) operates on shingle sets:
- ``word`` mode: n-gram over whitespace tokens (default for documents)
- ``char`` mode: n-gram over characters (used for short linkage fields,
  where the reference compares whole values with Jaro-Winkler)

Hashes must be stable across Python workers and sessions (PYTHONHASHSEED
independence), so we use blake2b-8byte digests with an explicit seed salt,
then derive K MinHash permutations from one base hash via affine transforms
in numpy (vectorized; no per-permutation re-hashing of strings).
"""

from __future__ import annotations

import hashlib

import numpy as np

__all__ = ["shingles", "hash64", "hash_shingles_batch", "MERSENNE_P"]

# Mersenne prime 2^61 - 1: modulus for the affine MinHash permutation family.
MERSENNE_P = (1 << 61) - 1


def shingles(text: str, n: int = 3, mode: str = "word") -> list[str]:
    """n-gram shingles; short inputs yield one shingle (the whole input),
    empty inputs yield none. Matches oracle.reference.shingle_set."""
    if mode == "word":
        toks = text.split()
        if not toks:
            return []
        if len(toks) < n:
            return [" ".join(toks)]
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    if not text:
        return []
    if len(text) < n:
        return [text]
    return [text[i : i + n] for i in range(len(text) - n + 1)]


def hash64(s: str, seed: int = 0) -> int:
    """Stable 61-bit hash of a string (blake2b-8 truncated into [0, 2^61-1))."""
    h = hashlib.blake2b(s.encode("utf-8"), digest_size=8, salt=seed.to_bytes(8, "little"))
    return int.from_bytes(h.digest(), "little") % MERSENNE_P


# --- vectorized batch shingle hashing (the hot path) -----------------------
#
# Hashing every shingle string individually (blake2b per n-gram) costs
# O(total_chars) Python per doc. Instead: hash each DISTINCT TOKEN once per
# Arrow batch (token vocabulary is tiny relative to shingle count), then
# combine token hashes into shingle hashes with numpy sliding windows:
#   h(shingle t_i..t_{i+n-1}) = sum_k M_k * h(t_{i+k})  (mod 2^64, odd M_k)
# Equal shingles get equal hashes; distinct ones collide w.p. ~2^-64.

_MIX = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0x2545F4914F6CDD1D,
     0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53],
    dtype=np.uint64,
) | np.uint64(1)


def _combine_windows(h: np.ndarray, n: int) -> np.ndarray:
    """Sliding-window polynomial combine of per-unit hashes (uint64 wrap).

    n_eff shifted slice multiply-adds instead of a sliding_window_view —
    the view + axis-reduce allocated per doc and cost ~2x on the batch path."""
    m = h.shape[0]
    if m == 0:
        return np.empty(0, dtype=np.uint64)
    n_eff = min(n, m)
    w = m - n_eff + 1
    with np.errstate(over="ignore"):
        out = _MIX[0] * h[:w]
        for k in range(1, n_eff):
            out += _MIX[k] * h[k : k + w]
    return out


def hash_shingles_batch(
    texts, n: int = 3, mode: str = "word", seed: int = 0
) -> list[np.ndarray]:
    """Per-row DISTINCT shingle hashes for an Arrow batch of texts.

    Semantics mirror shingles(): short non-empty inputs produce one
    whole-input shingle; empty/None inputs produce an empty array.
    NOTE: char mode windows over UTF-8 BYTES (not codepoints) — identical for
    ASCII; for multibyte text the shingle family differs from shingles()
    strings but stays a valid (deterministic, exact-identity) shingling.
    """
    out: list[np.ndarray] = []
    if mode == "word":
        vocab: dict[str, int] = {}

        def tok_hashes(t: str) -> np.ndarray:
            toks = t.split()
            hs = np.empty(len(toks), dtype=np.uint64)
            for i, tk in enumerate(toks):
                v = vocab.get(tk)
                if v is None:
                    v = hash64(tk, seed)
                    vocab[tk] = v
                hs[i] = v
            return hs

        for t in texts:
            if t is None:
                out.append(np.empty(0, dtype=np.uint64))
                continue
            h = tok_hashes(str(t))
            out.append(np.unique(_combine_windows(h, n)))
    else:  # char mode: per-byte hashes via a seeded substitution table
        rng = np.random.default_rng(seed ^ 0xC0FFEE)
        table = rng.integers(0, 1 << 63, size=256, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
        for t in texts:
            if t is None:
                out.append(np.empty(0, dtype=np.uint64))
                continue
            b = np.frombuffer(str(t).encode("utf-8"), dtype=np.uint8)
            out.append(np.unique(_combine_windows(table[b], n)))
    return out
