"""Pure-Python property tests for the single-long packed layouts
(`_single_long_bits`, linkage.py) that carry the assembly shuffle and the
parquet spill. No SparkSession — these mirror the exact bit arithmetic of
`_sparse_fuzzy_union` (edge = id_a << (bb+bc) | id_b << bc | level*stride;
groupBy key = edge >> bc; fuzzy value = sum of masked low bits) and of the
packed spill row (id_a << (bb+bp) | id_b << bp | pattern_id), and pin the
invariants the JVM plan relies on:

- every per-variable contribution (level <= 2 on the largest stride) fits
  in ``bc`` bits, so it never bleeds into id_b's field;
- the key shift recovers exactly (id_a, id_b) for every edge;
- contributions of distinct variables occupy disjoint mixed-radix slots,
  so SUMMING the masked low bits across a pair's edges reassembles the
  fuzzy pattern value exactly (no carries between variables);
- the spill layout round-trips (id_a, id_b, pattern_id) for the extreme
  ids and every pattern id;
- layouts are refused whenever any field combination would touch bit 63
  (sign bit stays 0 so the longs compare/shift safely JVM-side).
"""

import itertools
import random

import pytest

from fast_er_spark.linkage import _single_long_bits
from fast_er_spark.patterns import n_patterns, strides

SHAPES = [(1, 0), (1, 1), (2, 0), (3, 1), (4, 1), (4, 4), (2, 6), (6, 2)]


def _layout(n_a, n_b, kf, ke):
    return _single_long_bits(n_a, n_b, strides(kf, ke), kf, ke)


@pytest.mark.parametrize("kf,ke", SHAPES)
def test_edge_roundtrip_and_fuzzy_sum(kf, ke):
    rng = random.Random(20260818 + kf * 10 + ke)
    n_a, n_b = rng.randrange(1, 200_000), rng.randrange(1, 200_000)
    st = strides(kf, ke)
    out = _layout(n_a, n_b, kf, ke)
    assert out is not None, "bench-scale shapes must pack"
    (ba, bb, bc), (ba2, bb2, bp) = out
    assert (ba, bb) == (ba2, bb2)
    assert ba + bb + max(bc, bp) <= 63

    ids = [(0, 0), (n_a - 1, n_b - 1), (n_a - 1, 0), (0, n_b - 1)] + [
        (rng.randrange(n_a), rng.randrange(n_b)) for _ in range(20)
    ]
    for id_a, id_b in ids:
        # one edge per fuzzy variable, random level — as the union emits
        levels = [rng.randrange(3) for _ in range(kf)]
        fuzzy_value = 0
        for var, level in enumerate(levels):
            contrib = level * st[var]
            assert contrib <= (1 << bc) - 1, "contrib must fit its field"
            edge = (id_a << (bb + bc)) | (id_b << bc) | contrib
            assert edge < 1 << 63
            key = edge >> bc  # groupBy key (shiftrightunsigned)
            assert key >> bb == id_a and key & ((1 << bb) - 1) == id_b
            fuzzy_value += edge & ((1 << bc) - 1)  # the masked-low-bits SUM
        # disjoint mixed-radix slots: the sum IS the fuzzy pattern value
        want = sum(l * s for l, s in zip(levels, st[:kf]))
        assert fuzzy_value == want

    for pid in range(n_patterns(kf, ke)):
        row = ((n_a - 1) << (bb + bp)) | ((n_b - 1) << bp) | pid
        assert row < 1 << 63
        assert row >> (bb + bp) == n_a - 1
        assert (row >> bp) & ((1 << bb) - 1) == n_b - 1
        assert row & ((1 << bp) - 1) == pid


def test_contrib_field_bounds_all_small_shapes():
    """bc covers EVERY per-variable contribution for every (kf<=5, ke<=5)."""
    for kf, ke in itertools.product(range(1, 6), range(0, 6)):
        st = strides(kf, ke)
        out = _layout(1000, 1000, kf, ke)
        if out is None:
            continue
        (_, _, bc), (_, _, bp) = out
        assert max(2 * s for s in st[:kf]) <= (1 << bc) - 1
        assert n_patterns(kf, ke) - 1 <= (1 << bp) - 1


def test_layout_refused_when_63_bits_overflow():
    st = strides(4, 1)
    # 2^31-sized sides: 31+31 bits of ids + >=1 contrib bit > 63 -> refuse
    assert _single_long_bits(1 << 31, 1 << 31, st, 4, 1) is None
    # one huge side alone is fine if the other is tiny (50+2+8 <= 63)
    assert _single_long_bits(1 << 50, 4, st, 4, 1) is not None
    # unknown counts (natural keys) and fuzzy-free fits never pack
    assert _single_long_bits(None, 10, st, 4, 1) is None
    assert _single_long_bits(10, 10, strides(0, 2), 0, 2) is None
