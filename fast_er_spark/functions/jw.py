"""Jaro-Winkler similarity with the reference's exact byte-level semantics.

Reference: /root/reference/faster/comparison.py:11-131 (CUDA device function,
duplicated at deduplication.py:10-130). Semantics reproduced here (re-derived,
not copied):

- Comparison is per UTF-8 **byte**, not per codepoint (the reference encodes
  strings to a byte buffer, comparison.py:283).
- Empty string on either side => 0.0 (comparison.py:34-37).
- Match window is ``max(len1, len2) // 2 - 1`` (comparison.py:44). NOTE the
  quirk: for two 1-byte strings the window is -1 so even identical 1-char
  strings score 0.0. We reproduce this deliberately.
- Zero matching characters => 0.0 (comparison.py:66-69).
- Winkler prefix boost ``p * prefix * (1 - jaro)`` with prefix capped at 4 is
  applied **unconditionally** (comparison.py:108-123) — there is no textbook
  0.7 boost threshold.

The scalar function is pure Python over ``bytes``; the batch entry point
``jw_batch`` is what the Spark pandas_udf calls (Arrow-vectorized transfer,
per-pair scalar loop — only ever applied to candidate/distinct pairs, never
the raw cross product, so the Python loop is off the O(N^2) path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

__all__ = [
    "jaro_winkler_bytes",
    "jaro_winkler",
    "jw_batch",
    "discretize",
    "char_mask_bytes",
]


def jaro_winkler_bytes(s1: bytes, s2: bytes, p: float = 0.1) -> float:
    """Reference-faithful Jaro-Winkler on byte strings."""
    l1 = len(s1)
    l2 = len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0

    max_dist = max(l1, l2) // 2 - 1

    hash1 = bytearray(l1)
    hash2 = bytearray(l2)
    match = 0
    for i in range(l1):
        c = s1[i]
        j0 = i - max_dist
        if j0 < 0:
            j0 = 0
        j1 = i + max_dist + 1
        if j1 > l2:
            j1 = l2
        for j in range(j0, j1):
            if c == s2[j] and not hash2[j]:
                hash1[i] = 1
                hash2[j] = 1
                match += 1
                break

    if match == 0:
        return 0.0

    # Transpositions: matched chars out of order, divided by two.
    t = 0
    point = 0
    for i in range(l1):
        if hash1[i]:
            while not hash2[point]:
                point += 1
            if s1[i] != s2[point]:
                t += 1
            point += 1
    half_t = t / 2.0

    jaro = (match / l1 + match / l2 + (match - half_t) / match) / 3.0

    prefix = 0
    for i in range(min(l1, l2, 4)):
        if s1[i] == s2[i]:
            prefix += 1
        else:
            break

    return jaro + p * prefix * (1.0 - jaro)


def jaro_winkler(s1: str, s2: str, p: float = 0.1) -> float:
    """Jaro-Winkler over python strings (encoded to UTF-8 bytes first)."""
    return jaro_winkler_bytes(s1.encode("utf-8"), s2.encode("utf-8"), p)



_ONE = np.uint64(1)
_ZERO = np.uint64(0)
_FULL = ~np.uint64(0)
_BIT_MAX = 63  # strings up to 63 bytes take the bit-parallel path
_CHUNK = 32_768  # bounds the (chunk x 256) position table to ~64 MB


def _pad(vals: list, width: int) -> tuple[np.ndarray, np.ndarray]:
    """List of bytes -> (uint8 array (B, width), lengths). Vectorized fill."""
    B = len(vals)
    lens = np.fromiter((len(v) for v in vals), np.int64, B)
    arr = np.zeros((B, width), np.uint8)
    total = int(lens.sum())
    if total:
        flat = np.frombuffer(b"".join(vals), np.uint8)
        rows = np.repeat(np.arange(B), lens)
        cols = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
        arr[rows, cols] = flat
    return arr, lens


def _ordered_chars(bools: np.ndarray, chars: np.ndarray, m_max: int) -> np.ndarray:
    """Chars at True positions, gathered left-to-right per row."""
    B = bools.shape[0]
    out = np.zeros((B, max(m_max, 1)), np.uint8)
    r, c = np.nonzero(bools)
    rank = (np.cumsum(bools, axis=1) - 1)[r, c]
    out[r, rank] = chars[r, c]
    return out


def _jw_core(aa: np.ndarray, la: np.ndarray, bb: np.ndarray, lb: np.ndarray, p: float) -> np.ndarray:
    """Bit-parallel Jaro-Winkler over padded uint8 arrays (rows <= _CHUNK,
    widths <= 64, zero-length rows allowed -> 0.0). Exact parity with
    ``jaro_winkler_bytes`` (property-tested): per-string matched-position
    sets live in uint64 bitmasks, so the reference's greedy window matcher
    is ~6 numpy ops per character position across the whole batch."""
    B, L1 = aa.shape
    L2 = bb.shape[1]
    maxd = np.maximum(la, lb) // 2 - 1  # can be -1 (the 1-char-string quirk)

    # per-row char -> positions-in-b bitmask. Each (row, j) contributes the
    # bit 1<<j exactly once to its (row, char) cell, so a SUM of distinct
    # powers of two equals the OR — one np.bincount builds the whole table.
    # float64 sums are exact only while totals stay under 2^53 (j <= 52);
    # wider rows use the sort + bitwise_or.reduceat path.
    # compact alphabet: the table is (B, K+1) for the K distinct bytes that
    # actually occur in b (plus a sentinel zero column for a-chars absent
    # from b) — (B, 256) would cost a fresh 67 MB bincount per chunk
    present = np.zeros(256, bool)
    present[bb.ravel()] = True
    uniq = np.flatnonzero(present)
    K = len(uniq)
    lut = np.full(256, K, np.int64)
    lut[uniq] = np.arange(K)

    rows_b = np.repeat(np.arange(B), lb)
    cols_b = np.arange(int(lb.sum())) - np.repeat(np.cumsum(lb) - lb, lb)
    width = K + 1
    if len(rows_b):
        idx = rows_b * np.int64(width) + lut[bb[rows_b, cols_b]]
        if L2 <= 52:
            posmask = np.bincount(
                idx, weights=np.exp2(cols_b), minlength=B * width
            ).astype(np.uint64)
        else:
            posmask = np.zeros(B * width, np.uint64)
            order = np.argsort(idx, kind="stable")
            idx_s = idx[order]
            bits_s = _ONE << cols_b.astype(np.uint64)[order]
            starts = np.flatnonzero(np.r_[True, idx_s[1:] != idx_s[:-1]])
            posmask[idx_s[starts]] = np.bitwise_or.reduceat(bits_s, starts)
    else:
        posmask = np.zeros(B * width, np.uint64)
    posmask = posmask.reshape(B, width)
    posmask[:, K] = _ZERO  # sentinel: a-chars that never occur in b

    # hoisted per-position tables: pm_all[i] = candidate positions for a's
    # i-th char; wm_all[i] = window [i-maxd, i+maxd+1) & i<la, as bitmasks
    pm_all = posmask[np.arange(B)[:, None], lut[aa]]  # (B, L1) uint64
    ii = np.arange(L1)[:, None]
    lo = np.clip(ii - maxd[None, :], 0, _BIT_MAX).astype(np.uint64)
    hi = np.clip(np.minimum(ii + maxd[None, :] + 1, lb[None, :]), 0, 64).astype(np.uint64)
    hi_mask = np.where(hi >= 64, _FULL, (_ONE << hi) - _ONE)
    wm_all = hi_mask & ~((_ONE << lo) - _ONE)
    wm_all[ii >= la[None, :]] = _ZERO

    h2 = np.zeros(B, np.uint64)
    found = np.zeros((B, L1), bool)
    for i in range(L1):
        cand = pm_all[:, i] & wm_all[i] & ~h2
        h2 |= cand & (~cand + _ONE)  # lowest set bit = greedy first-j match
        found[:, i] = cand != 0

    m = found.sum(axis=1)
    m_max = int(m.max(initial=0))
    b_bools = np.unpackbits(
        h2.view(np.uint8).reshape(B, 8), axis=1, bitorder="little"
    )[:, :L2].astype(bool)
    oc1 = _ordered_chars(found, aa, m_max)
    oc2 = _ordered_chars(b_bools, bb, m_max)
    live = np.arange(max(m_max, 1))[None, :] < m[:, None]
    t = ((oc1 != oc2) & live).sum(axis=1)

    m_f = m.astype(np.float64)
    safe = np.maximum
    jaro = (
        m_f / safe(la, 1) + m_f / safe(lb, 1) + (m_f - t / 2.0) / safe(m_f, 1.0)
    ) / 3.0

    p4 = np.minimum(np.minimum(la, lb), 4)
    eq4 = (aa[:, :4] == bb[:, :4]) & (np.arange(4)[None, :] < p4[:, None])
    prefix = np.cumprod(eq4, axis=1).sum(axis=1)

    out = jaro + p * prefix * (1.0 - jaro)
    return np.where(m > 0, out, 0.0)


def jw_bits_batch(a_bytes: list, b_bytes: list, p: float = 0.1) -> np.ndarray:
    """Bit-parallel batch JW over byte strings (each 0..63 bytes)."""
    n = len(a_bytes)
    if n > _CHUNK:
        return np.concatenate(
            [
                jw_bits_batch(a_bytes[i : i + _CHUNK], b_bytes[i : i + _CHUNK], p)
                for i in range(0, n, _CHUNK)
            ]
        )
    aa, la = _pad(a_bytes, max(4, max((len(v) for v in a_bytes), default=4)))
    bb, lb = _pad(b_bytes, max(4, max((len(v) for v in b_bytes), default=4)))
    return _jw_core(aa, la, bb, lb, p)


def _u65_codes(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Object array of str/None -> (uint32 codepoints (B, 65), lengths,
    clean-row mask). A row is clean when it is pure ASCII with no NUL at all
    and at most 63 chars — for those rows codepoints == UTF-8 bytes, so
    the whole conversion is one C-level numpy cast. Longer strings truncate
    into the 65-wide buffer and are flagged dirty (the scalar path re-reads
    the original). Interior NULs break the contiguity check; TRAILING NULs
    are invisible to numpy 'U' storage (dropped like padding), so the
    recovered count is compared against the real python length — any
    mismatch routes the row to the byte-exact scalar path."""
    B = len(vals)
    u = np.asarray(vals, dtype="U65")
    codes = u.view(np.uint32).reshape(B, 65)
    nz = codes != 0
    counts = nz.sum(axis=1)
    # interior NULs make count != last_nonzero+1
    rev_first = nz[:, ::-1].argmax(axis=1)
    last_idx = 65 - 1 - rev_first
    contiguous = np.where(nz.any(axis=1), counts == last_idx + 1, True)
    py_len = np.frompyfunc(len, 1, 1)(vals).astype(np.int64)
    clean = (
        contiguous
        & (counts <= _BIT_MAX)
        & (codes.max(axis=1) < 128)
        & (counts == py_len)
    )
    return codes, counts, clean


def jw_batch(a: pd.Series, b: pd.Series, p: float = 0.1) -> pd.Series:
    """Vectorized batch scorer for use inside a pandas_udf.

    Nulls score 0.0 (same as empty strings in the reference). ASCII pairs up
    to 63 chars run the bit-parallel numpy path end to end with no
    per-element Python at all; non-ASCII / NUL-bearing / longer strings fall
    back to the scalar byte-exact reference implementation.
    """
    n = len(a)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return pd.Series(out)
    av = a.to_numpy(dtype=object).copy()
    bv = b.to_numpy(dtype=object).copy()
    na = pd.isna(av)
    nb = pd.isna(bv)
    av[na] = ""
    bv[nb] = ""
    ca, la, ok_a = _u65_codes(av)
    cb, lb, ok_b = _u65_codes(bv)
    vec = ok_a & ok_b
    idx = np.flatnonzero(vec)
    for s in range(0, len(idx), _CHUNK):
        sel = idx[s : s + _CHUNK]
        w1 = max(4, int(la[sel].max(initial=0)))
        w2 = max(4, int(lb[sel].max(initial=0)))
        out[sel] = _jw_core(
            ca[sel, :w1].astype(np.uint8),
            la[sel],
            cb[sel, :w2].astype(np.uint8),
            lb[sel],
            p,
        )
    for i in np.flatnonzero(~vec):
        x, y = av[i], bv[i]
        if x == "" or y == "":
            continue
        out[i] = jaro_winkler_bytes(str(x).encode("utf-8"), str(y).encode("utf-8"), p)
    return pd.Series(out)


def char_mask_bytes(s: bytes) -> int:
    """64-bit char-MULTISET sketch: one bit per (byte value, occurrence
    index) pair, bit index (c*37 + k*131) & 63. popcount(maskA & maskB)
    upper-bounds the greedy JW matcher's match count m (each match pairs
    equal bytes; collisions only inflate the bound). Returned as a SIGNED
    64-bit value (bit 63 wraps negative) so it round-trips through Spark
    LongType; must stay in lockstep with jvm/JwUdfs.java::charMask."""
    seen: dict[int, int] = {}
    m = 0
    for c in s:
        k = seen.get(c, 0)
        seen[c] = k + 1
        m |= 1 << ((c * 37 + k * 131) & 63)
    if m >= 1 << 63:
        m -= 1 << 64
    return m


def discretize(score: float, lower: float = 0.88, upper: float = 0.94) -> int:
    """Band discretization (comparison.py:320-338): level 2 if score >= upper,
    level 1 if lower <= score < upper, else 0. Bounds: lower inclusive,
    upper exclusive for level 1."""
    if score >= upper:
        return 2
    if score >= lower:
        return 1
    return 0
