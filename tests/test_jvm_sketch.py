"""JVM kernels: build/registration errors, determinism, unbiased Jaccard
estimation, parity with the expression and Python twins in
oracle/kernels.py, and the same >=0.99 recall gate as the Python families
through the identical band/verify path. The kernels are the only runtime
path, so these tests run wherever the suite does (JDK 17 required)."""

import weakref

import numpy as np
import pytest

from oracle import kernels
from oracle.reference import jaccard_dup_pairs, shingle_set


def test_ensure_jvm_udfs_raises_without_javac(spark, monkeypatch):
    """A driver without a JDK must fail loudly, naming the missing tool."""
    import fast_er_spark.functions.jvm_sketch as js

    monkeypatch.setattr(js, "_jar_path", None)
    monkeypatch.setattr(js, "_registered", weakref.WeakSet())
    monkeypatch.setattr(js.shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="javac"):
        js.ensure_jvm_udfs(spark)


def test_ensure_jvm_udfs_surfaces_javac_errors(spark, monkeypatch, tmp_path):
    """Sources that do not compile must raise with javac's own diagnostics
    in the message, and must leave nothing in the jar cache."""
    import fast_er_spark.functions.jvm_sketch as js

    bad = tmp_path / "Broken.java"
    bad.write_text("public class Broken { int x = ; }\n")
    home = tmp_path / "home"
    monkeypatch.setenv("HOME", str(home))
    monkeypatch.setattr(js, "_SRCS", [str(bad)])
    monkeypatch.setattr(js, "_jar_path", None)
    monkeypatch.setattr(js, "_registered", weakref.WeakSet())
    with pytest.raises(RuntimeError, match="javac failed") as err:
        js.ensure_jvm_udfs(spark)
    msg = str(err.value)
    assert "Broken.java" in msg and "error:" in msg, msg
    assert not (home / ".cache" / "fast_er_jvm").exists()


def test_text_builders_register_their_kernels(spark, monkeypatch):
    """text_stats, rolling_fingerprint, lang_marker_counts and lang_id_ngram
    register the kernels on the active session themselves: with the
    session's kernel functions dropped and the registration memo emptied,
    all four still evaluate."""
    from pyspark.sql import functions as F

    import fast_er_spark.functions.jvm_sketch as js
    from fast_er_spark.functions.text import (
        lang_id_ngram,
        lang_marker_counts,
        rolling_fingerprint,
        text_stats,
    )

    names = [
        js._TEXT_STATS_UDF_NAME, js._ROLLING_FP_UDF_NAME,
        js._MARKER_COUNTS_UDF_NAME, js._NGRAM_LANG_UDF_NAME,
    ]
    monkeypatch.setattr(js, "_registered", weakref.WeakSet())
    try:
        for name in names:
            spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
            assert not spark.catalog.functionExists(name)
        df = spark.createDataFrame([(0, "the cat of der Hund")], "i long, t string")
        t = F.col("t")
        row = df.select(
            text_stats(t).alias("st"),
            rolling_fingerprint(t).alias("fp"),
            lang_marker_counts(t, {"en": ["the", "of"], "de": ["der"]}).alias("mk"),
            lang_id_ngram(t).alias("lg"),
        ).first()
        assert row["st"] == [5, 5, 19, 19] and row["mk"] == [2, 1]
        assert row["fp"] is not None and row["lg"] is not None
        assert spark in js._registered
        assert all(spark.catalog.functionExists(name) for name in names)
    finally:
        monkeypatch.undo()
        js._registered.discard(spark)
        js.ensure_jvm_udfs(spark)


def test_determinism_and_null_contract(spark):
    from pyspark.sql import functions as F

    from fast_er_spark.functions.jvm_sketch import oph_signature_jvm

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "   "), (3, None), (4, "x")],
        "id long, text string",
    )
    col = oph_signature_jvm("text", 32, 3, 42)
    r1 = {r["id"]: r["s"] for r in df.select("id", col.alias("s")).collect()}
    r2 = {r["id"]: r["s"] for r in df.select("id", col.alias("s")).collect()}
    assert r1 == r2
    assert r1[2] is None and r1[3] is None  # blank/None -> null signature
    assert len(r1[1]) == 32 and len(r1[4]) == 32  # short doc: whole-doc shingle


def test_estimator_unbiased_vs_true_jaccard(spark):
    """E[slot match] = Jaccard must hold for the JVM hash family too."""
    from pyspark.sql import functions as F

    from fast_er_spark.functions.jvm_sketch import oph_signature_jvm

    rng = np.random.default_rng(9)
    vocab = np.array([f"w{i:04d}" for i in range(2000)])
    pairs = []
    for _ in range(120):
        a = vocab[rng.integers(0, 2000, 170)]
        b = a.copy()
        idx = rng.integers(0, len(b), rng.integers(1, 50))
        b[idx] = vocab[rng.integers(0, 2000, len(idx))]
        pairs.append((" ".join(a), " ".join(b)))
    rows = [(i, p[0]) for i, p in enumerate(pairs)] + [
        (i + len(pairs), p[1]) for i, p in enumerate(pairs)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    sig = {
        r["id"]: np.asarray(r["s"])
        for r in df.select("id", oph_signature_jvm("text", 128, 3, 42).alias("s")).collect()
    }
    errs = []
    for i, (x, y) in enumerate(pairs):
        est = (sig[i] == sig[i + len(pairs)]).mean()
        A, B = shingle_set(x, 3, "word"), shingle_set(y, 3, "word")
        errs.append(est - len(A & B) / len(A | B))
    errs = np.array(errs)
    assert abs(errs.mean()) < 0.02, errs.mean()
    assert errs.std() < 0.08, errs.std()


def test_jw_level_jvm_parity_with_scalar_reference(spark):
    """The JVM banded JW level must agree with the Python scalar reference
    kernel on every pair — ASCII, unicode (per-UTF-8-byte semantics), empty,
    1-char window quirk, NUL-bearing, long strings."""
    import random

    from fast_er_spark.functions.jw import discretize, jaro_winkler_bytes

    rng = random.Random(31)
    alphabet = "abcdefgh é中\x001"
    cases = [("", ""), ("a", "a"), ("ab", "ab"), ("martha", "marhta"),
             ("dwayne", "duane"), ("a\x00b", "ab"), ("ab\x00", "ab"),
             ("école", "ecole"), ("中文", "中文x"),
             # >64-byte sides exercise the boolean[] fallback (the <=64
             # bitmask fast path and the binary-signature UDF must agree
             # with it at the crossover)
             ("ab" * 40, "ab" * 40), ("ab" * 40, "ba" * 40),
             ("x" * 63 + "yz", "x" * 65), ("q" * 64, "q" * 64 + "r")]
    for _ in range(400):
        la, lb = rng.randint(0, 12), rng.randint(0, 12)
        cases.append(
            ("".join(rng.choice(alphabet) for _ in range(la)),
             "".join(rng.choice(alphabet) for _ in range(lb)))
        )
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)], "i long, a string, b string"
    )
    from fast_er_spark.functions.jvm_sketch import jw_level_jvm_bin
    from pyspark.sql import functions as F

    got = {
        r["i"]: r["lvl_bin"]
        for r in df.select(
            "i",
            jw_level_jvm_bin(
                F.col("a").cast("binary"), F.col("b").cast("binary"),
                0.1, 0.88, 0.94,
            ).alias("lvl_bin"),
        ).collect()
    }
    for i, (a, b) in enumerate(cases):
        want = discretize(
            jaro_winkler_bytes(a.encode("utf-8"), b.encode("utf-8"), 0.1), 0.88, 0.94
        )
        assert got[i] == want, (a, b, got[i], want)


def test_substring_anchors_jvm_alignment_invariant(spark):
    """The rolling-hash anchors must be content-defined: a span copied to a
    DIFFERENT OFFSET in another document selects the same anchors, so the
    docs share anchor hashes; and the containment pair must surface through
    anchor_pairs."""
    from fast_er_spark.operators.substring import anchor_pairs

    rng = np.random.default_rng(17)
    vocab = [f"w{i:03d}" for i in range(500)]
    span = " ".join(rng.choice(vocab, 60))  # ~240 chars shared verbatim
    docs = []
    for i in range(40):
        filler = " ".join(rng.choice(vocab, 80))
        docs.append((i, filler))
    # plant the span at different offsets in docs 40 and 41
    docs.append((40, "xx " + span + " " + " ".join(rng.choice(vocab, 30))))
    docs.append((41, " ".join(rng.choice(vocab, 25)) + " " + span))
    df = spark.createDataFrame(docs, "id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in anchor_pairs(df, "id", "text").collect()
    }
    assert (41, 40) in pairs


def test_shares_span_jvm_parity(spark):
    """The compiled window check must answer exactly ``lcs_len(a, b) >= k``
    (the Python oracle) on random pairs, null and blank sides, ``k = 0``
    (always true) and a ``k`` longer than both texts."""
    import random

    rng = random.Random(7)
    cases = [("", ""), ("abc", ""), ("abcdef", "xxabcdyy"), ("aaaa", "aa"),
             (None, "abc"), ("abc", None), (None, None), ("   ", "a   b"),
             ("abcdefgh", "abcdefgh"), ("abcd", "xabcdx")]
    for _ in range(200):
        n1, n2 = rng.randint(0, 40), rng.randint(0, 40)
        s1 = "".join(rng.choice("abcd ") for _ in range(n1))
        s2 = "".join(rng.choice("abcd ") for _ in range(n2))
        if rng.random() < 0.5 and n1 >= 6 and n2 >= 3:  # plant a shared span
            k = rng.randint(3, min(10, n1))
            pos = rng.randint(0, n2)
            s2 = s2[:pos] + s1[:k] + s2[pos:]
        cases.append((s1, s2))
    _assert_shares_span_parity(spark, cases, (0, 1, 3, 5, 8, 64))


def _assert_shares_span_parity(spark, cases, ks):
    from fast_er_spark.functions.jvm_sketch import ensure_jvm_udfs, shares_span_jvm

    ensure_jvm_udfs(spark)
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)], "i long, a string, b string"
    )
    got = {
        r["i"]: r.asDict()
        for r in df.select(
            "i", *[shares_span_jvm("a", "b", k).alias(f"k{k}") for k in ks]
        ).collect()
    }
    for i, (a, b) in enumerate(cases):
        lcs = kernels.lcs_len(a, b)
        for k in ks:
            assert got[i][f"k{k}"] is (lcs >= k), (a, b, k, got[i][f"k{k}"], lcs)


def test_jvm_tokenizer_matches_python_whitespace_set(spark):
    """Java Character.isWhitespace excludes U+0085/U+00A0/U+2007/U+202F,
    all of which Python str.split() treats as separators; the kernels use a
    Python-parity whitespace helper so shingle SETS (hence every
    intersection/union size the verify stage consumes) agree between the
    engines. Families differ, so parity is asserted on distinct-set SIZE."""
    from fast_er_spark.functions.jvm_sketch import shingle_hashes_jvm

    texts = [
        "alpha beta gamma delta",        # NBSP separator
        "one two three four five",  # figure + narrow NBSP
        "nelsplit here and there",      # NEL
        "plain ascii words only here",
        "  lead and trail ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r["i"]: len(set(r["h"]))
        for r in df.select("i", shingle_hashes_jvm("t", n=3, seed=1).alias("h")).collect()
    }
    for i, t in enumerate(texts):
        want = len(shingle_set(t, 3, "word"))
        assert got[i] == want, (t, got[i], want)


def test_shares_span_jvm_astral_code_points(spark):
    """Spans count CODE POINTS like Python len(), not UTF-16 units: a
    shared span of n astral chars is n, not 2n."""
    emoji_run = "\U0001F600\U0001F601\U0001F602\U0001F603"  # 4 code points
    cases = [
        ("xx" + emoji_run + "yy", "ab" + emoji_run + "cd"),
        (emoji_run * 3, emoji_run * 2),
        ("abc\U0001F600def", "zzz\U0001F600de"),
    ]
    _assert_shares_span_parity(spark, cases, (1, 3, 4, 5, 8, 9))


def test_oph_jvm_lsh_verified_pairs_recall(spark):
    """The JVM kernel (word mode's signature path) must clear the >=0.99
    recall gate through the band/verify path (verification is
    family-agnostic)."""
    from fixtures.synth import pages

    from fast_er_spark.operators.lsh import lsh_candidate_pairs
    from fast_er_spark.operators.verify import verify_pairs_jaccard

    rows, _, _ = pages(n=600, seed=23)
    data = [(r["doc_id"], r["text"]) for r in rows]
    df = spark.createDataFrame(data, "doc_id long, text string")
    id_text = {i: t for i, t in data}

    cand = lsh_candidate_pairs(
        df, "doc_id", "text", num_perm=128, bands=32, rows_per_band=4,
        n=3, seed=42,
    )
    verified = verify_pairs_jaccard(cand, df, "doc_id", "text", n=3, threshold=0.8)
    got = {(int(r.id_a), int(r.id_b)) for r in verified.collect()}
    want = jaccard_dup_pairs(id_text, n=3, mode="word", threshold=0.8)
    assert got <= want, f"false positives: {sorted(got - want)[:5]}"
    recall = len(got & want) / len(want)
    assert recall >= 0.99, f"recall {recall:.4f} ({len(want) - len(got)} missed)"


def test_text_kernels_match_expressions(spark):
    """The compiled text kernels (TextUdfs) must return EXACTLY the values
    of the Column-expression twins in oracle/kernels.py — that identity is
    what keeps the DuckDB oracle twins green. Cases cover
    multi-space runs, tabs/newlines, punctuation, non-ASCII (code-point
    counting), astral chars, repeated tokens, and empty text."""
    from pyspark.sql import functions as F

    from fast_er_spark.functions.text import (
        lang_marker_counts,
        quality_score_from_stats,
        rolling_fingerprint,
        text_stats,
    )

    markers = {"en": ["the", "of"], "de": ["der", "und"], "xx": ["zap"]}
    texts = [
        "the quick brown fox the fox",
        "  der und  der\tzap\nof  ",
        "punct!!! heavy,,, (text) 50% #1",
        "café naïve résumé 中文 tokens",
        "astral \U0001F600\U0001F601 pair \U0001F600",
        "",
        "   ",
        "single",
        "The OF tHe zAp",  # case-folding for markers
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    t = F.col("t")
    rows = df.select(
        "i",
        kernels.text_stats(t).alias("st_e"),
        text_stats(t).alias("st_j"),
        kernels.rolling_fingerprint(t).alias("fp_e"),
        rolling_fingerprint(t).alias("fp_j"),
        kernels.quality_score(t).alias("q_e"),
        quality_score_from_stats(text_stats(t)).alias("q_j"),
        kernels.lang_marker_counts(t, markers).alias("mk_e"),
        lang_marker_counts(t, markers).alias("mk_j"),
    ).collect()
    for r in rows:
        assert r["st_e"] == r["st_j"], (texts[r["i"]], r["st_e"], r["st_j"])
        assert r["fp_e"] == r["fp_j"], (texts[r["i"]], r["fp_e"], r["fp_j"])
        assert r["q_e"] == r["q_j"], (texts[r["i"]], r["q_e"], r["q_j"])
        assert r["mk_e"] == r["mk_j"], (texts[r["i"]], r["mk_e"], r["mk_j"])


def test_text_kernels_randomized_parity(spark):
    """Seeded fuzz over adversarial character classes (ASCII, punctuation,
    every Python-whitespace code point, Latin-1/CJK/Cyrillic letters,
    combining marks): the JVM text kernels must equal the expression twins
    on every generated string. One batched comparison, 300 strings."""
    import random

    from pyspark.sql import functions as F

    from fast_er_spark.functions.text import (
        rolling_fingerprint,
        text_stats,
    )

    ws = [chr(c) for c in (
        list(range(0x09, 0x0E)) + list(range(0x1C, 0x21))
        + [0x85, 0xA0, 0x1680] + list(range(0x2000, 0x200B))
        + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
    )]
    letters = (
        [chr(c) for c in range(0x61, 0x7B)]
        + [chr(c) for c in range(0x30, 0x3A)]
        + list("!?#.,:;()[]'\"-_%&")
        + list("àéîöüßñç")
        + list("жабэюя")
        + list("中文字漢語")
        + ["́", "̈"]  # combining marks
    )
    rng = random.Random(20240817)
    texts = []
    for _ in range(300):
        n = rng.randint(0, 60)
        texts.append("".join(
            rng.choice(ws) if rng.random() < 0.25 else rng.choice(letters)
            for _ in range(n)
        ))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    t = F.col("t")
    rows = df.select(
        "i",
        kernels.text_stats(t).alias("se"),
        text_stats(t).alias("sj"),
        kernels.rolling_fingerprint(t).alias("fe"),
        rolling_fingerprint(t).alias("fj"),
    ).collect()
    for r in rows:
        assert r["se"] == r["sj"], (repr(texts[r["i"]]), r["se"], r["sj"])
        assert r["fe"] == r["fj"], (repr(texts[r["i"]]), r["fe"], r["fj"])


def test_char_mask_jvm_python_parity(spark):
    """jvm/JwUdfs.java::charMask and functions/jw.py::char_mask_bytes must
    produce the identical signed 64-bit sketch for arbitrary (incl.
    multi-byte and NUL-bearing) text — the Python form is the reference
    the mask filter's soundness proof (tests/test_jw.py) runs on."""
    import random

    from pyspark.sql import functions as F

    from fast_er_spark.functions.jvm_sketch import char_mask_jvm
    from fast_er_spark.functions.jw import char_mask_bytes

    rng = random.Random(5)
    alphabet = "abcdefgh é中\x00q9"
    vals = ["", "a", "aaaa", "martha", "x" * 100] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v string"
    )
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i", char_mask_jvm(F.col("v").cast("binary")).alias("m")
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == char_mask_bytes(v.encode("utf-8")), repr(v)


def test_scored_value_pairs_mask_filter_invariant(spark, monkeypatch):
    """The char-mask prefilter must not change scored_value_pairs output —
    identical (val_a, val_b, level) sets with the filter on and off, equal
    to the scalar Python reference levels over the full cross product."""
    import random

    from fast_er_spark.functions.jw import discretize, jaro_winkler_bytes
    from fast_er_spark.operators import agreement
    from fast_er_spark.operators.agreement import scored_value_pairs

    rng = random.Random(21)
    names = list(
        {f"name{i}" for i in range(300)}
        | {"martha", "marhta", "dwayne", "duane", "jon", "john", "", "é中"}
    )
    rng.shuffle(names)
    va = spark.createDataFrame([(v,) for v in names[:250]], "val_a string")
    vb = spark.createDataFrame([(v,) for v in names[60:]], "val_b string")

    def run():
        return {tuple(r) for r in scored_value_pairs(va, vb, 0.1, 0.88, 0.94).collect()}

    want = set()
    for a in names[:250]:
        for b in names[60:]:
            lvl = discretize(
                jaro_winkler_bytes(a.encode("utf-8"), b.encode("utf-8"), 0.1), 0.88, 0.94
            )
            if lvl:
                want.add((a, b, lvl))

    # force past the small-pair volume gate (MASK_MIN_PAIRS) so the filter
    # actually runs on this ~62k-pair fixture; an unreachable gate turns it off
    monkeypatch.setattr(agreement, "MASK_MIN_PAIRS", 0)
    on = run()
    monkeypatch.setattr(agreement, "MASK_MIN_PAIRS", 10**18)
    off = run()
    assert on == off and want == off
    assert off  # non-degenerate fixture


def test_char_mask_volume_gate(spark, monkeypatch):
    """The mask prefilter only enters the plan when the implied pair count
    clears MASK_MIN_PAIRS: at small volumes its fixed plan overhead exceeds
    the whole unpruned kernel cost (measured +0.35 s on the sf0.1 supplier
    dedup, PERF.md round 5), so default_value_candidates skips it."""
    from fast_er_spark.operators import agreement
    from fast_er_spark.operators.agreement import scored_value_pairs

    va = spark.createDataFrame([(f"nm{i}",) for i in range(40)], "val_a string")
    vb = spark.createDataFrame([(f"nm{i}",) for i in range(40)], "val_b string")

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # 1,600 implied pairs < MASK_MIN_PAIRS: gate skips the mask
    gated = scored_value_pairs(va, vb, 0.1, 0.88, 0.94)
    assert "__ma" not in plan(gated)
    # forcing the threshold to 0 re-enables it on the same frames
    monkeypatch.setattr(agreement, "MASK_MIN_PAIRS", 0)
    forced = scored_value_pairs(va, vb, 0.1, 0.88, 0.94)
    assert "__ma" in plan(forced)


def test_fused_sig_and_shingles_parity(spark):
    """The fused one-tokenization kernel must be BIT-identical to the split
    kernels on both outputs: [0] == oph_signature_jvm, [1] ==
    shingle_hashes_jvm — including short docs (< n tokens), unicode
    whitespace, duplicate shingles, and the blank -> null contract."""
    from pyspark.sql import functions as F

    from fast_er_spark.functions.jvm_sketch import (
        oph_signature_jvm,
        shingle_hashes_jvm,
        sig_and_shingles_jvm,
    )

    texts = [
        "a b c d e f g",
        "one two",          # < n tokens: whole-doc shingle
        "x",                # single token
        "dup dup dup dup dup",  # duplicate shingles collapse
        "tab\tand\nnewline mix",
        "nbsp separated tokens",  # python whitespace set
        "",                 # blank -> null
        "   ",              # whitespace-only -> null
        "café naïve 中文 \U0001f600 tokens here",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    out = df.select(
        "id",
        oph_signature_jvm("t", 128, 3, 42).alias("sig"),
        shingle_hashes_jvm("t", 3, 42).alias("sh"),
        sig_and_shingles_jvm("t", 128, 3, 42).alias("ss"),
    ).collect()
    for r in out:
        if r["ss"] is None:
            assert r["sig"] is None
            assert r["sh"] == []  # split shingle kernel: blank -> empty
            continue
        assert r["ss"][0] == r["sig"], f"sig mismatch id={r['id']}"
        assert r["ss"][1] == r["sh"], f"shingles mismatch id={r['id']}"


def test_sorted_inter_union_jvm_parity(spark):
    """The merge-scan size kernel must equal array_intersect/array_union
    sizes on sorted-distinct arrays (incl. empty and disjoint), and map a
    null side to -1."""
    import random as _random

    from pyspark.sql import functions as F

    from fast_er_spark.functions.jvm_sketch import sorted_inter_union_jvm

    rng = _random.Random(3)
    rows = []
    for i in range(300):
        universe = rng.sample(range(-(10**12), 10**12), 60)
        a = sorted(rng.sample(universe, rng.randint(0, 40)))
        b = sorted(rng.sample(universe, rng.randint(0, 40)))
        rows.append((i, a, b))
    rows.append((997, None, [1, 2]))
    rows.append((998, [1, 2], None))
    rows.append((999, [], []))
    df = spark.createDataFrame(rows, "id long, a array<long>, b array<long>")
    out = df.select(
        "id",
        sorted_inter_union_jvm("a", "b").alias("iu"),
        F.size(F.array_intersect("a", "b")).alias("inter"),
        F.size(F.array_union("a", "b")).alias("union"),
    ).collect()
    for r in out:
        if r["inter"] is None or r["inter"] < 0:  # null side
            assert r["iu"] == -1, r
            continue
        assert r["iu"] >> 32 == r["inter"], r
        assert r["iu"] & 0xFFFFFFFF == r["union"], r


def test_verify_merge_scan_matches_expression_path(spark):
    """verify_pairs_jaccard's merge-scan sizes must equal Python set
    Jaccard over oracle.reference.shingle_set on the same candidates: the
    same kept pairs with the same intersection and union sizes."""
    from fixtures.synth import pages
    from oracle.reference import shingle_set

    from fast_er_spark.operators.lsh import lsh_candidate_pairs
    from fast_er_spark.operators.verify import verify_pairs_jaccard

    rows, _, _ = pages(n=400, seed=9)
    texts = {i: r["text"] for i, r in enumerate(rows)}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string").localCheckpoint()
    cand = lsh_candidate_pairs(
        df, "doc_id", "text", num_perm=128, bands=32, rows_per_band=4,
        n=3, seed=42,
    ).localCheckpoint()
    got = verify_pairs_jaccard(cand, df, "doc_id", "text", n=3, threshold=0.8)
    g = sorted((r.id_a, r.id_b, r.inter_size, r.union_size) for r in got.collect())
    w = []
    for r in cand.collect():
        sa, sb = shingle_set(texts[r.id_a], 3, "word"), shingle_set(texts[r.id_b], 3, "word")
        inter, union = len(sa & sb), len(sa | sb)
        if union and inter * 1_000_000 >= 800_000 * union:
            w.append((r.id_a, r.id_b, inter, union))
    assert g == sorted(w) and len(g) > 0
