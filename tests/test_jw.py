"""Golden-value tests for the reference-faithful Jaro-Winkler (F4 fixtures,
FIXTURES.md). Values derived from the published JW definition with the
reference's quirks (unconditional prefix boost, byte-level window)."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fast_er_spark.functions.jw import discretize, jaro_winkler


def test_classic_pairs():
    assert jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611111111, abs=1e-9)
    assert jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.84, abs=1e-9)
    assert jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.8133333333, abs=1e-9)


def test_empty_strings_zero():
    assert jaro_winkler("", "") == 0.0
    assert jaro_winkler("", "abc") == 0.0
    assert jaro_winkler("abc", "") == 0.0


def test_no_match_zero():
    assert jaro_winkler("abc", "xyz") == 0.0


def test_window_quirk_single_char():
    # max(1,1)//2 - 1 == -1 => identical 1-char strings score 0.0 in the
    # reference (comparison.py:44). Deliberately reproduced.
    assert jaro_winkler("a", "a") == 0.0
    # 2-char identical strings have window 0, diagonal-only matching.
    assert jaro_winkler("ab", "ab") == 1.0


def test_unconditional_prefix_boost():
    # Textbook JW only boosts when jaro > 0.7; the reference always boosts.
    s1, s2 = "ax", "abcdefgh"  # shares prefix 'a', low jaro
    # jaro: matches = 1 ('a'); window = 8//2-1 = 3
    # jaro = (1/2 + 1/8 + 1)/3 = 0.5416666...
    # boosted = jaro + 0.1*1*(1-jaro) = 0.5875
    assert jaro_winkler(s1, s2) == pytest.approx(0.5875, abs=1e-9)


def test_byte_level_utf8():
    # Multi-byte chars compare per byte: 'é' = 2 bytes, so 'é' vs 'é' is a
    # 2-byte vs 2-byte comparison (window 0) -> 1.0, unlike 1-char semantics.
    assert jaro_winkler("é", "é") == 1.0
    # 'é' (c3 a9) vs 'è' (c3 a8): 1 shared byte of 2, window 0 -> diagonal.
    # match=1 (c3), t=0 -> jaro=(1/2+1/2+1)/3=2/3; prefix=1 -> 2/3 + .1*1/3
    assert jaro_winkler("é", "è") == pytest.approx(2 / 3 + 0.1 / 3, abs=1e-9)


def test_prefix_cap_at_4():
    a, b = "abcdefgh", "abcdefxy"
    # matches: a..f = 6, window = 8//2-1=3; t=0
    # jaro = (6/8+6/8+1)/3 = 0.8333...; prefix capped at 4
    expected = 5 / 6 + 0.1 * 4 * (1 - 5 / 6)
    assert jaro_winkler(a, b) == pytest.approx(expected, abs=1e-9)


def test_discretize_bands():
    assert discretize(0.87999) == 0
    assert discretize(0.88) == 1  # lower inclusive (comparison.py:321)
    assert discretize(0.93999) == 1
    assert discretize(0.94) == 2  # upper inclusive for level 2 (329)
    assert discretize(1.0) == 2


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=24), st.text(max_size=24))
def test_properties(s1, s2):
    v = jaro_winkler(s1, s2)
    w = jaro_winkler(s2, s1)
    assert v == pytest.approx(w, abs=1e-12)  # symmetry
    assert 0.0 <= v <= 1.0  # range, given p <= 0.25
    assert not math.isnan(v)


def test_char_mask_bound_soundness_fuzz():
    """The pre-kernel candidate filter (scored_value_pairs) keeps a pair iff
    bit_count(mask_a & mask_b)*(l1+l2) >= (3*jmin - 1)*l1*l2. Property: NO
    pair the kernel scores at level > 0 may be rejected, for any (p, lower)
    the filter activates on — mask collisions only overcount, so the bound
    stays conservative."""
    import random

    from fast_er_spark.functions.jw import char_mask_bytes, jaro_winkler_bytes

    rng = random.Random(99)
    alphabet = "abcdefghijkl é中\x00"
    for p, lower in [(0.1, 0.88), (0.1, 0.94), (0.05, 0.8), (0.2, 0.95)]:
        if 4 * p >= 1:
            continue
        jmin = (lower - 4 * p) / (1 - 4 * p)
        coef = 3 * jmin - 1
        if coef <= 0:
            continue
        cases = [
            ("martha", "marhta"), ("dwayne", "duane"), ("aaaaaa", "aaaaa"),
            ("jon", "john"), ("washington", "washingtno"), ("", ""), ("a", "a"),
        ]
        for _ in range(4000):
            la, lb = rng.randint(0, 14), rng.randint(0, 14)
            cases.append(
                (
                    "".join(rng.choice(alphabet) for _ in range(la)),
                    "".join(rng.choice(alphabet) for _ in range(lb)),
                )
            )
        for a, b in cases:
            ba, bb = a.encode("utf-8"), b.encode("utf-8")
            ma = char_mask_bytes(ba) & (2**64 - 1)
            mb = char_mask_bytes(bb) & (2**64 - 1)
            # the production predicate (scored_value_pairs), incl. the
            # within-string collision compensation term
            inter = bin(ma & mb).count("1")
            lost_a = len(ba) - bin(ma).count("1")
            lost_b = len(bb) - bin(mb).count("1")
            keep = (inter + min(lost_a, lost_b)) * (len(ba) + len(bb)) >= (
                coef - 1e-9
            ) * len(ba) * len(bb)
            lvl = discretize(jaro_winkler_bytes(ba, bb, p), lower, min(1.0, lower + 0.06))
            assert not (lvl > 0 and not keep), (a, b, p, lower, lvl)
