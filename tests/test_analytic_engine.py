"""Parity tests for the analytic-singles counts engine (linkage.py).

The engine (on for big unblocked fits) materializes only multi-agreement
(>= 2 fuzzy) pairs and reconstructs the single-agreement histogram from
value-level joint counts (per-side CUBE joined through the scored
value-pair frame, Moebius inversion over exact subsets). These tests pin
exact equality against the classic engine — counts, transform pairs, and
matched_pairs across every nonzero pattern (multi, single, exact-only) —
on a fixture dense enough that all three pattern classes occur. Each test
forces the engine on or off by patching ``Comparison._analytic``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fast_er_spark.linkage import Comparison, Estimation, Linkage
from fixtures.synth import voters


@pytest.fixture(scope="module")
def frames(spark):
    rows_a, rows_b = voters(n=600, overlap=0.5, seed=11)
    df_a = spark.createDataFrame(pd.DataFrame(rows_a)).localCheckpoint()
    df_b = spark.createDataFrame(pd.DataFrame(rows_b)).localCheckpoint()
    return df_a, df_b


FUZ = ["last_name", "first_name", "house_number", "street_name"]
EX = ["birth_year"]


def _fit(frames, analytic, fuzzy=FUZ, exact=EX, **kw):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Comparison, "_analytic", lambda self: analytic)
        comp = Comparison(frames[0], frames[1], fuzzy, fuzzy, exact, exact, **kw)
        comp.fit()
        comp.counts()
    return comp


def test_counts_and_matched_pairs_parity(frames):
    c0 = _fit(frames, False)
    c1 = _fit(frames, True)
    assert c1._parts is not None and c0._parts is None  # gate actually flips
    h0, h1 = c0.counts(), c1.counts()
    assert np.array_equal(h0, h1)
    pids = [int(i) for i in np.nonzero(h0)[0] if i != 0]
    # all three classes must be present for the test to mean anything
    from fast_er_spark.patterns import strides

    st = strides(len(FUZ), len(EX))

    def nfz(q):
        return sum(1 for i in range(len(FUZ)) if (q // st[i]) % 3)

    assert any(nfz(q) >= 2 for q in pids)
    assert any(nfz(q) == 1 for q in pids)
    assert any(q < 2 ** len(EX) for q in pids)
    m0 = sorted(map(tuple, c0.matched_pairs(pids).collect()))
    m1 = sorted(map(tuple, c1.matched_pairs(pids).collect()))
    assert m0 == m1 and len(m0) > 0


def test_transform_parity(frames):
    c0 = _fit(frames, False)
    c1 = _fit(frames, True)
    est = Estimation(len(FUZ), len(EX), c0.counts(), seed=13).fit()
    p0 = sorted(
        (r["Index_A"], r["Index_B"], round(r["ksi"], 12))
        for r in Linkage(None, None, c0, est.ksi).transform(0.85).collect()
    )
    p1 = sorted(
        (r["Index_A"], r["Index_B"], round(r["ksi"], 12))
        for r in Linkage(None, None, c1, est.ksi).transform(0.85).collect()
    )
    assert p0 == p1 and len(p0) > 0


def test_auto_gate_off_for_small_fits(frames):
    # a 600x600 pair space is far below the spill threshold, so the
    # classic engine must run (no persisted value-pair frames)
    comp = Comparison(frames[0], frames[1], FUZ, FUZ, EX, EX)
    comp.fit()
    assert comp._parts is None


def test_null_values_parity(frames, spark):
    # nulls in fuzzy columns (excluded from value frames) and exact columns
    # (null never agrees — in the CUBE, the attachment joins, AND the
    # Moebius terms) must cancel identically in both engines
    from pyspark.sql import functions as F

    def poke(df):
        return df.select(
            *[
                F.when(F.xxhash64(F.col(c), F.lit(c)) % 7 == 0, None)
                .otherwise(F.col(c))
                .alias(c)
                if c in ("first_name", "birth_year")
                else F.col(c)
                for c in df.columns
            ]
        ).localCheckpoint()

    fr = (poke(frames[0]), poke(frames[1]))
    c0 = _fit(fr, False)
    c1 = _fit(fr, True)
    h0, h1 = c0.counts(), c1.counts()
    assert np.array_equal(h0, h1)
    pids = [int(i) for i in np.nonzero(h0)[0] if i != 0]
    m0 = sorted(map(tuple, c0.matched_pairs(pids).collect()))
    m1 = sorted(map(tuple, c1.matched_pairs(pids).collect()))
    assert m0 == m1


def test_natural_key_parity(frames):
    # natural long keys (with gaps, larger than the row count) disable the
    # free row-count packing gate; the analytic engine must still agree
    # with the classic one on that path
    from pyspark.sql import functions as F

    df_a = frames[0].withColumn(
        "rid", F.abs(F.xxhash64(frames[0]["ncid"])) % F.lit(10_000_000_000)
    )
    df_b = frames[1].withColumn(
        "rid", F.abs(F.xxhash64(frames[1]["ncid"])) % F.lit(10_000_000_000)
    )
    c0 = _fit((df_a, df_b), False, id_a="rid", id_b="rid")
    c1 = _fit((df_a, df_b), True, id_a="rid", id_b="rid")
    assert np.array_equal(c0.counts(), c1.counts())


def test_counts_and_matched_pairs_parity_two_exact(frames):
    """k_exact=2 parity (round-5 ADVICE): with a single exact variable the
    Moebius inversion over exact subsets and the grouping-id bit
    conventions in _fuzzy_joint_counts are never exercised on a non-trivial
    subset lattice — exactly where a bit-order mismatch between gid bits
    and pattern-id exact strides would hide. Same exact-equality contract
    as the k_exact=1 test, with EX = [birth_year, street_name]."""
    fuz2 = ["last_name", "first_name"]
    ex2 = ["birth_year", "street_name"]

    c0 = _fit(frames, False, fuz2, ex2)
    c1 = _fit(frames, True, fuz2, ex2)
    assert c1._parts is not None and c0._parts is None
    h0, h1 = c0.counts(), c1.counts()
    assert np.array_equal(h0, h1)
    pids = [int(i) for i in np.nonzero(h0)[0] if i != 0]
    from fast_er_spark.patterns import strides

    st = strides(len(fuz2), len(ex2))

    def nfz(q):
        return sum(1 for i in range(len(fuz2)) if (q // st[i]) % 3)

    # need every class incl. MIXED exact subsets for the lattice to bite
    assert any(nfz(q) >= 2 for q in pids)
    assert any(nfz(q) == 1 for q in pids)
    assert any(q < 2 ** len(ex2) for q in pids)
    assert len({q % (2 ** len(ex2)) for q in pids}) >= 3  # >=3 exact patterns
    m0 = sorted(map(tuple, c0.matched_pairs(pids).collect()))
    m1 = sorted(map(tuple, c1.matched_pairs(pids).collect()))
    assert m0 == m1 and len(m0) > 0
