"""End-to-end parity: Spark engine vs the brute-force CPU oracle on seeded
fixtures (FIXTURES.md F2/F3), plus the full Fellegi-Sunter flow."""

import pytest

from fixtures.synth import people
from oracle.reference import dedup_patterns, linkage_patterns, oracle_counts


def _people_dfs(spark, n=40):
    rows_a, rows_b = people(n=n, seed=7)
    for i, r in enumerate(rows_a):
        r["rid"] = i
    for i, r in enumerate(rows_b):
        r["rid"] = i
    df_a = spark.createDataFrame(rows_a)
    df_b = spark.createDataFrame(rows_b)
    return rows_a, rows_b, df_a, df_b


FUZZY = ["last_name", "first_name", "street_name"]
EXACT = ["birth_year"]


def _tuples(rows):
    return [tuple(r[c] for c in FUZZY + EXACT) for r in rows]


def test_comparison_patterns_match_oracle(spark):
    from fast_er_spark.linkage import Comparison

    rows_a, rows_b, df_a, df_b = _people_dfs(spark, n=40)
    comp = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT, id_a="rid", id_b="rid").fit()

    got = {
        (int(r.id_a), int(r.id_b), int(r.pattern_id))
        for r in comp.patterns.collect()
    }
    n_b = len(rows_b)
    oracle = linkage_patterns(_tuples(rows_a), _tuples(rows_b), len(FUZZY), len(EXACT))
    want = {
        (flat // n_b, flat % n_b, pid)
        for pid, flats in oracle.items()
        for flat in flats
    }
    assert got == want

    import numpy as np

    want_counts = oracle_counts(oracle, len(FUZZY), len(EXACT), len(rows_a), n_b)
    assert np.array_equal(comp.counts(), want_counts)


def test_dedup_patterns_match_oracle(spark):
    from fast_er_spark.linkage import Deduplication

    rows_a, rows_b, *_ = people(n=30, seed=11), None, None
    rows_a, rows_b = people(n=30, seed=11)
    # one table containing perturbed copies: rows_a ∪ rows_b
    rows = rows_a + rows_b
    for i, r in enumerate(rows):
        r["rid"] = i
    df = spark.createDataFrame(rows)
    dd = Deduplication(df, FUZZY, EXACT, id_col="rid").fit()

    got = {
        (int(r.id_a), int(r.id_b), int(r.pattern_id)) for r in dd.patterns.collect()
    }
    n = len(rows)
    oracle = dedup_patterns(_tuples(rows), len(FUZZY), len(EXACT))
    want = {
        (flat // n, flat % n, pid) for pid, flats in oracle.items() for flat in flats
    }
    assert got == want

    import numpy as np

    want_counts = oracle_counts(oracle, len(FUZZY), len(EXACT), n, None)
    assert np.array_equal(dd.counts(), want_counts)


def test_full_fs_linkage_flow(spark):
    """Comparison -> EM -> Linkage, precision/recall vs planted ncid truth
    (the reference's own validation method, example/Example.ipynb cells 4-8)."""
    import numpy as np

    from fast_er_spark.linkage import Comparison, Estimation, Linkage

    rows_a, rows_b, df_a, df_b = _people_dfs(spark, n=120)
    comp = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT, id_a="rid", id_b="rid").fit()
    est = Estimation(len(FUZZY), len(EXACT), comp.counts(), seed=13).fit()
    out = Linkage(None, None, comp, est.ksi).transform(0.85).collect()

    truth = {
        (a["rid"], b["rid"])
        for a in rows_a
        for b in rows_b
        if a["ncid"] == b["ncid"]
    }
    got = {(int(r.Index_A), int(r.Index_B)) for r in out}
    assert got, "linkage produced no matches"
    tp = len(got & truth)
    precision = tp / len(got)
    recall = tp / len(truth)
    assert precision >= 0.9, (precision, recall)
    assert recall >= 0.9, (precision, recall)


def test_sparse_exact_engine_matches_dense(spark):
    """exact_sparse=True (default) must produce identical counts, identical
    full pattern surface, and identical transform output to the dense path —
    including when an exact-only pattern is admitted by a low threshold."""
    import numpy as np

    from fixtures.synth import people

    from fast_er_spark.linkage import Comparison, Estimation, Linkage

    rows_a, rows_b = people(n=90, seed=17)
    for i, r in enumerate(rows_a):
        r["rid"] = i
    for i, r in enumerate(rows_b):
        r["rid"] = i
    df_a = spark.createDataFrame(rows_a)
    df_b = spark.createDataFrame(rows_b)
    FUZZY = ["last_name", "first_name"]
    EXACT = ["birth_year", "street_name"]

    sp = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT, id_a="rid", id_b="rid").fit()
    dn = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT, id_a="rid", id_b="rid").fit(
        exact_sparse=False
    )
    assert sp._sparse is not None and dn._sparse is None
    np.testing.assert_array_equal(sp.counts(), dn.counts())
    pat_sp = {(r.id_a, r.id_b, r.pattern_id) for r in sp.patterns.collect()}
    pat_dn = {(r.id_a, r.id_b, r.pattern_id) for r in dn.patterns.collect()}
    assert pat_sp == pat_dn

    est = Estimation(len(FUZZY), len(EXACT), dn.counts(), seed=13).fit()
    for thr in (0.85, 1e-9):  # 1e-9 admits exact-only patterns too
        out_sp = {
            (r.Index_A, r.Index_B)
            for r in Linkage(None, None, sp, est.ksi).transform(thr).collect()
        }
        out_dn = {
            (r.Index_A, r.Index_B)
            for r in Linkage(None, None, dn, est.ksi).transform(thr).collect()
        }
        assert out_sp == out_dn


def test_dedup_sparse_exact_engine_matches_dense(spark):
    """Deduplication's sparse-exact path (default) must equal the dense path
    on counts and the full pattern surface (triangular universe)."""
    import numpy as np

    from fixtures.synth import people

    from fast_er_spark.linkage import Deduplication

    rows, _ = people(n=110, seed=29)
    for i, r in enumerate(rows):
        r["rid"] = i
    df = spark.createDataFrame(rows)
    FUZZY = ["last_name", "first_name"]
    EXACT = ["birth_year", "street_name"]
    sp = Deduplication(df, FUZZY, EXACT, id_col="rid").fit()
    dn = Deduplication(df, FUZZY, EXACT, id_col="rid").fit(exact_sparse=False)
    assert sp._sparse is not None and dn._sparse is None
    np.testing.assert_array_equal(sp.counts(), dn.counts())
    pat_sp = {(r.id_a, r.id_b, r.pattern_id) for r in sp.patterns.collect()}
    pat_dn = {(r.id_a, r.id_b, r.pattern_id) for r in dn.patterns.collect()}
    assert pat_sp == pat_dn and pat_sp


def test_exact_joint_counts_single_job_and_null_semantics(spark, monkeypatch):
    """The analytical exact-pattern histogram must issue exactly ONE Spark
    collect (one CUBE pass), not 2^k - 1 serial jobs, and must match a
    brute-force python enumeration with k=3 exact variables including NULLs
    (a NULL never agrees, even with another NULL)."""
    import itertools

    # Spark 4: pyspark.sql.DataFrame is the abstract facade; the concrete
    # local class (whose collect() actually runs) lives in sql.classic
    from pyspark.sql.classic.dataframe import DataFrame as SparkDataFrame

    from fast_er_spark.linkage import Comparison, Deduplication

    rows = []
    vals = [("x", "1", "a"), ("x", None, "a"), ("y", "1", None), ("x", "1", "a"),
            ("y", "2", "b"), (None, "2", "b"), ("x", "2", "a"), ("y", "1", "a")]
    for i, (u, v, w) in enumerate(vals * 3):
        rows.append((i, f"nm{i % 5}", u, v, w))
    df = spark.createDataFrame(rows, "rid long, nm string, e1 string, e2 string, e3 string")
    EX = ["e1", "e2", "e3"]

    def brute_exact_counts(recs, triangular):
        cnt = {}
        it = (
            itertools.combinations(recs, 2)
            if triangular
            else itertools.product(recs, recs)
        )
        for ra, rb in it:
            e = 0
            for j, c in enumerate(EX):
                if ra[c] is not None and ra[c] == rb[c]:
                    e |= 1 << (len(EX) - 1 - j)
            if e:
                cnt[e] = cnt.get(e, 0) + 1
        return cnt

    recs = [dict(rid=r[0], e1=r[2], e2=r[3], e3=r[4]) for r in rows]

    comp = Comparison(df, df, ["nm"], ["nm"], EX, EX, id_a="rid", id_b="rid").fit()
    dedup = Deduplication(df, ["nm"], EX, id_col="rid").fit()

    calls = {"n": 0}
    orig = SparkDataFrame.collect

    def counted(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(SparkDataFrame, "collect", counted)
    got_link = comp._exact_joint_counts()
    assert calls["n"] == 1, f"{calls['n']} collects for the linkage histogram"
    calls["n"] = 0
    got_dedup = dedup._exact_joint_counts()
    assert calls["n"] == 1, f"{calls['n']} collects for the dedup histogram"
    monkeypatch.setattr(SparkDataFrame, "collect", orig)

    assert got_link == brute_exact_counts(recs, triangular=False)
    assert got_dedup == brute_exact_counts(recs, triangular=True)


def test_row_id_matches_zipwithindex_and_runs_no_python(spark, monkeypatch):
    """Positional row ids must (a) equal the zipWithIndex ids they replaced
    (partition-major, row order within partition — the reference's pandas
    positional index) and (b) assign them with ZERO Python stages: .rdd
    access is forbidden and the materialized plan may contain no Python
    eval node."""
    from fast_er_spark.linkage import _ROW_ID, _with_row_id
    from fast_er_spark.plans.inspect import formatted_plan

    df = (
        spark.range(0, 997)
        .repartition(7)  # uneven, shuffled partitions
        .selectExpr("id as payload", "cast(id % 13 as string) as tag")
        .localCheckpoint(eager=True)  # pin partition layout for the twin runs
    )
    expect = dict(df.rdd.zipWithIndex().map(lambda t: (t[0].payload, t[1])).collect())

    classic = type(df)
    orig_rdd = classic.rdd
    monkeypatch.setattr(
        classic,
        "rdd",
        property(lambda self: (_ for _ in ()).throw(AssertionError(".rdd accessed"))),
    )
    try:
        out, n_total = _with_row_id(df, None)
        assert n_total == 997  # the positional path reports its row count
        got = {r["payload"]: r[_ROW_ID] for r in out.collect()}
        plan = formatted_plan(out)
    finally:
        monkeypatch.setattr(classic, "rdd", orig_rdd)
    assert got == expect
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "PythonRDD" not in plan


def test_big_path_packed_shuffle_and_spill_parity(spark, monkeypatch, tmp_path):
    """Force the BIG fit path (pre-partitioned assembly, single-long packed
    shuffle edges, single-column packed parquet spill) on a small positional
    -id fixture and require byte-identical results vs the small path:
    identical counts, identical full pattern surface, identical transform
    pairs. Guards the round-5 8-byte edge encoding and the packed spill
    (linkage.py::_single_long_bits) against drift."""
    import numpy as np

    from fixtures.synth import people

    import fast_er_spark.linkage as L
    from fast_er_spark.linkage import Comparison, Deduplication, Estimation, Linkage

    rows_a, rows_b = people(n=80, seed=23)
    df_a = spark.createDataFrame(rows_a)
    df_b = spark.createDataFrame(rows_b)
    FUZZY = ["last_name", "first_name"]
    EXACT = ["birth_year"]

    small = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT).fit()
    c_small = small.counts()
    pat_small = {(r.id_a, r.id_b, r.pattern_id) for r in small.patterns.collect()}

    monkeypatch.setattr(L, "_SPILL_PAIR_SPACE", 0)
    # pin the CLASSIC big path: big fits default to the analytic-singles
    # engine (which persists the small multi frame instead of spilling the
    # full pattern frame — covered by tests/test_analytic_engine.py)
    monkeypatch.setenv("FAST_ER_ANALYTIC_SINGLES", "0")
    spark.conf.set("spark.fast_er.spillDir", str(tmp_path))
    try:
        # the auto gate must pick the analytic engine for a big unblocked
        # fit, and its counts must match the small path exactly
        monkeypatch.setenv("FAST_ER_ANALYTIC_SINGLES", "auto")
        auto_big = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT).fit()
        assert auto_big._big() and auto_big._parts is not None
        np.testing.assert_array_equal(auto_big.counts(), c_small)
        monkeypatch.setenv("FAST_ER_ANALYTIC_SINGLES", "0")

        big = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT).fit()
        assert big._big() and big._pack_bits is not None and big._parts is None
        c_big = big.counts()
        # the spill parquet must hold ONE packed column
        spilled = [p for p in tmp_path.iterdir() if p.name.startswith("pairs_")]
        assert spilled
        assert spark.read.parquet(str(spilled[0])).columns == ["__pk"]
        np.testing.assert_array_equal(c_big, c_small)
        pat_big = {(r.id_a, r.id_b, r.pattern_id) for r in big.patterns.collect()}
        assert pat_big == pat_small and pat_big

        est = Estimation(len(FUZZY), len(EXACT), c_small, seed=13).fit()
        out_small = {
            (r.Index_A, r.Index_B)
            for r in Linkage(None, None, small, est.ksi).transform(0.5).collect()
        }
        out_big = {
            (r.Index_A, r.Index_B)
            for r in Linkage(None, None, big, est.ksi).transform(0.5).collect()
        }
        assert out_big == out_small

        # dedup big path too (triangular universe, same encodings)
        rows = rows_a[:60]
        df = spark.createDataFrame(rows)
        dd_big = Deduplication(df, FUZZY, EXACT).fit()
        assert dd_big._big() and dd_big._pack_bits is not None
        monkeypatch.setattr(L, "_SPILL_PAIR_SPACE", 10**18)
        dd_small = Deduplication(df, FUZZY, EXACT).fit()
        np.testing.assert_array_equal(dd_big.counts(), dd_small.counts())
        pb = {(r.id_a, r.id_b, r.pattern_id) for r in dd_big.patterns.collect()}
        ps = {(r.id_a, r.id_b, r.pattern_id) for r in dd_small.patterns.collect()}
        assert pb == ps and pb
    finally:
        spark.conf.unset("spark.fast_er.spillDir")


def test_transform_ksi_createdataframe_fallback(spark, monkeypatch):
    """Past _KSI_LITERAL_MAX admitted patterns, transform's ksi lookup frame
    switches from the literal-expression form to createDataFrame (wide
    comparisons would otherwise bloat the driver plan with one expression
    node per pattern — round-4 advice). Both paths must produce identical
    matched pairs and posteriors."""
    import fast_er_spark.linkage as L
    from fast_er_spark.linkage import Comparison, Estimation, Linkage

    rows_a, rows_b, df_a, df_b = _people_dfs(spark, n=40)
    comp = Comparison(
        df_a, df_b, FUZZY, FUZZY, EXACT, EXACT, id_a="rid", id_b="rid"
    ).fit()
    est = Estimation(len(FUZZY), len(EXACT), comp.counts(), seed=13).fit()

    def run():
        return {
            (int(r.Index_A), int(r.Index_B), round(float(r.ksi), 12))
            for r in Linkage(None, None, comp, est.ksi).transform(0.5).collect()
        }

    literal = run()
    monkeypatch.setattr(L, "_KSI_LITERAL_MAX", 0)  # force the fallback
    fallback = run()
    assert fallback == literal and literal


def test_natural_key_row_counts_cached(spark, monkeypatch):
    """On the natural-key path _big() backfills the universe's n_a/n_b/n so the
    counts() complement reuses them: each side pays exactly ONE
    DataFrame.count() per fit+counts (it used to pay two — one in the
    size gate, one in the complement)."""
    import numpy as np

    from fast_er_spark.linkage import Comparison, Deduplication

    rows_a, rows_b, df_a, df_b = _people_dfs(spark, n=30)
    DataFrame = type(df_a)  # the concrete class (pyspark.sql.classic in 4.x)
    comp = Comparison(
        df_a, df_b, FUZZY, FUZZY, EXACT, EXACT, id_a="rid", id_b="rid"
    )
    calls = []
    orig = DataFrame.count
    monkeypatch.setattr(DataFrame, "count", lambda self: calls.append(1) or orig(self))
    c1 = comp.fit().counts()
    monkeypatch.setattr(DataFrame, "count", orig)
    assert comp._u.n_a == len(rows_a) and comp._u.n_b == len(rows_b)
    assert len(calls) == 2  # one per side, gate + complement share it
    # cached totals must produce the same complement as a fresh fit
    comp2 = Comparison(
        df_a, df_b, FUZZY, FUZZY, EXACT, EXACT, id_a="rid", id_b="rid"
    ).fit()
    np.testing.assert_array_equal(c1, comp2.counts())

    dd = Deduplication(df_a, FUZZY, EXACT, id_col="rid")
    calls.clear()
    monkeypatch.setattr(DataFrame, "count", lambda self: calls.append(1) or orig(self))
    dd.fit().counts()
    monkeypatch.setattr(DataFrame, "count", orig)
    assert dd._u.n == len(rows_a) and len(calls) == 1
