"""Expression and Python twins of the compiled JVM kernels (tests only).

The engine runs the kernels in fast_er_spark/jvm/. These are the
pure-expression or pure-Python forms the kernels were written to match,
value for value; the parity tests compare the two:

- ``text_stats``, ``rolling_fingerprint``, ``lang_marker_counts``: Spark
  built-in expressions (interpreted higher-order functions, one pass per
  statistic) twinning jvm/TextUdfs.java;
- ``lang_id_ngram``: an Arrow pandas_udf running
  functions.text.predict_lang_ngram_py, twinning TextUdfs$NgramLangId;
- ``lcs_len``: the suffix-automaton longest common substring;
  jvm/LcsUdfs.java::SharesSpan must answer exactly ``lcs_len(a, b) >= k``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from fast_er_spark.functions.text import (
    FP_BASE,
    FP_MOD,
    distinct_token_count,
    lang_marker_score,
    ngram_lang_profiles,
    predict_lang_ngram_py,
    token_count,
)

__all__ = [
    "text_stats",
    "rolling_fingerprint",
    "lang_marker_counts",
    "lang_id_ngram",
    "lcs_len",
]


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
