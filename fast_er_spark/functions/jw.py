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

The engine scores pairs with the compiled JVM kernel (jvm/JwUdfs.java,
registered by functions/jvm_sketch.py). These pure-Python functions over
``bytes`` are its reference: the kernel parity tests and the benchmark's
oracle compare against them, and ``char_mask_bytes`` must stay in lockstep
with the kernel's match-count prefilter.
"""

from __future__ import annotations

__all__ = [
    "jaro_winkler_bytes",
    "jaro_winkler",
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
