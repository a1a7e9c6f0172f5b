"""Expression and Python twins of the compiled JVM kernels (tests only).

The engine runs the kernels in fast_er_spark/jvm/. These are the
pure-expression or pure-Python forms the kernels were written to match,
value for value; the parity tests compare the two:

- ``text_stats``, ``rolling_fingerprint``, ``lang_marker_counts``: Spark
  built-in expressions (interpreted higher-order functions, one pass per
  statistic) twinning jvm/TextUdfs.java; ``quality_score`` is the same
  formula as functions.text.quality_score_from_stats, from expressions;
- ``lang_id_ngram``: an Arrow pandas_udf running ``predict_lang_ngram_py``,
  twinning TextUdfs$NgramLangId;
- ``lcs_len``: the suffix-automaton longest common substring;
  jvm/LcsUdfs.java::SharesSpan must answer exactly ``lcs_len(a, b) >= k``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from fast_er_spark.functions.text import (
    _NGRAM_K,
    _ngram_counts,
    _rank_profile,
    ngram_lang_profiles,
)

__all__ = [
    "quality_score",
    "lang_marker_score",
    "text_stats",
    "rolling_fingerprint",
    "lang_marker_counts",
    "predict_lang_ngram_py",
    "lang_id_ngram",
    "lcs_len",
]

# jvm/TextUdfs.java::RollingFp's modulus and base
FP_MOD = 1_000_000_007
FP_BASE = 31


def tokens(col: Column) -> Column:
    """Whitespace tokens; empty/blank text -> empty array (not [''])."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, r"[^0-9A-Za-z\s]", ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Heuristic [0,1] quality: length band + low punctuation + type/token
    ratio."""
    n_tok = token_count(col)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    ttr = F.when(n_tok > 0, distinct_token_count(col) / n_tok).otherwise(F.lit(0.0))
    return F.round((len_ok + (1.0 - punct_ratio(col)) + ttr) / 3.0, 6)


def lang_marker_score(col: Column, markers: list[str]) -> Column:
    """Count of tokens that appear in a language marker list."""
    return F.size(F.filter(tokens(F.lower(col)), lambda t: t.isin(markers)))


def rolling_fingerprint(col: Column) -> Column:
    """acc = (acc * 31 + codepoint) mod 1e9+7 as F.aggregate over a
    per-character array: F.split(col, "") yields one element per code point
    and F.ascii returns the code point."""
    chars = F.filter(F.split(col, ""), lambda c: c != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(FP_BASE) + F.ascii(c)) % F.lit(FP_MOD),
    )


def text_stats(col: Column) -> Column:
    """[token_count, distinct_token_count, n_chars, n_kept]; null -> null."""
    return F.when(
        col.isNotNull(),
        F.array(
            token_count(col).cast("long"),
            distinct_token_count(col).cast("long"),
            F.length(col).cast("long"),
            F.length(F.regexp_replace(col, r"[^0-9A-Za-z\s]", "")).cast("long"),
        ),
    )


def lang_marker_counts(col: Column, markers: dict) -> Column:
    """One F.filter pass per language; null text -> NULL (not an array of
    nulls), like the kernel."""
    return F.when(
        col.isNotNull(),
        F.array(*[lang_marker_score(col, mk).cast("long") for mk in markers.values()]),
    )


def predict_lang_ngram_py(text: str | None, profiles: dict, k: int = _NGRAM_K) -> str | None:
    """The kernel's algorithm and tie rules for BMP text: blank/None ->
    None; ties -> first language in profile insertion order."""
    if text is None:
        return None
    counts = _ngram_counts(text)
    if not counts:
        return None
    doc = _rank_profile(counts, k)
    best, best_d = None, None
    for lg, ngs in profiles.items():
        rank = {g: r for r, g in enumerate(ngs)}
        d = sum(abs(r - rank[g]) if g in rank else k for r, g in enumerate(doc))
        if best_d is None or d < best_d:
            best, best_d = lg, d
    return best


def lang_id_ngram(col: Column, profiles: dict | None = None) -> Column:
    profiles = profiles or ngram_lang_profiles()

    @F.pandas_udf("string")
    def pred(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: predict_lang_ngram_py(t, profiles))

    return pred(col)


def lcs_len(a: str, b: str) -> int:
    """Longest common substring length via a suffix automaton of the shorter
    string — O(|a| + |b|)."""
    if not a or not b:
        return 0
    if len(a) > len(b):
        a, b = b, a
    nxt: list[dict] = [{}]
    link = [-1]
    ln = [0]
    last = 0
    for ch in a:
        cur = len(ln)
        nxt.append({})
        link.append(0)
        ln.append(ln[last] + 1)
        p = last
        while p != -1 and ch not in nxt[p]:
            nxt[p][ch] = cur
            p = link[p]
        if p != -1:
            q = nxt[p][ch]
            if ln[p] + 1 == ln[q]:
                link[cur] = q
            else:
                clone = len(ln)
                nxt.append(dict(nxt[q]))
                link.append(link[q])
                ln.append(ln[p] + 1)
                while p != -1 and nxt[p].get(ch) == q:
                    nxt[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    best = cur_len = 0
    v = 0
    for ch in b:
        while v and ch not in nxt[v]:
            v = link[v]
            cur_len = ln[v]
        if ch in nxt[v]:
            v = nxt[v][ch]
            cur_len += 1
            best = max(best, cur_len)
        else:
            v = 0
            cur_len = 0
    return best
