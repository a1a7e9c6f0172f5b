"""Candidate-pair verification — exact similarity on LSH candidates only.

After LSH proposes candidates, each pair is verified with the EXACT measure
(n-gram Jaccard, or Jaro-Winkler for short linkage fields). Shingle-Jaccard
verification runs entirely JVM-side: sorted shingle hashes come from the
compiled kernel (functions/jvm_sketch.py) and are compared with one merge
scan per pair — no Python in the verify hot path at all.

This mirrors the sketch-then-verify contract of BASELINE.json north_rule:
LSH fixes RECALL (tuned bands), verification fixes PRECISION (exact measure),
so verified pairs equal the brute-force oracle's pairs wherever LSH recall
holds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.jvm_sketch import ensure_jvm_udfs, shingle_hashes_jvm, sorted_inter_union_jvm
from ..functions.jw import jw_batch

__all__ = [
    "shingle_array",
    "jaccard_columns",
    "verify_pairs_jaccard",
    "verify_pairs_jw",
]


def shingle_array(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (pure JVM).

    Matches functions.shingles.shingles(mode='word'): short docs yield one
    whole-doc shingle; blank docs yield an empty array.
    """
    toks = F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != F.lit(""))
    nt = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), nt - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(
        F.when(nt == 0, F.array().cast("array<string>"))
        .when(nt < n, F.array(F.concat_ws(" ", toks)))
        .otherwise(grams)
    )


def jaccard_columns(sh_a: Column, sh_b: Column) -> tuple[Column, Column]:
    """(intersection_size, union_size) of two shingle arrays."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return inter, union


def verify_pairs_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    hashed: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Keep candidate pairs with exact shingle-Jaccard >= threshold.

    Returns (id_a, id_b, <extra pair columns>, inter_size, union_size,
    jaccard) — any columns beyond (id_a, id_b) on the candidate frame (e.g.
    lsh_candidate_pairs' ``is_star`` marker) pass through unchanged, so
    telemetry can compare candidates to survivors per category. The
    threshold test uses integer arithmetic (inter * 10^6 >= thr * 10^6 *
    union) so it is float-representation independent.

    ``hashed=True`` (default) intersects 64-bit shingle hashes computed in
    the executor JVM (functions/jvm_sketch.py) instead of shingle strings —
    less shuffle, and the sorted arrays take the merge-scan size kernel; a
    cross-shingle hash collision (2^-64 per pair) is the only divergence.

    ``shingles``: a precomputed (id, sh) frame (e.g. from the fused
    signature+shingle kernel — jvm_sketch.py::sig_and_shingles_jvm — which
    shares one tokenization pass with candidate generation; its arrays are
    sorted-distinct, so the merge-scan size kernel applies). The caller
    owns its materialization; ids absent from it simply drop from the
    output, so feeding only the candidate-generating subset is safe.

    The doc->shingles frame is checkpointed once: it feeds BOTH join sides,
    and without materialization Spark recomputes it per side (measured 2x).
    """
    ensure_jvm_udfs(docs.sparkSession)
    if shingles is not None:
        return _verify_join(pairs, shingles.select("id", "sh"), threshold, merge_scan=True)
    sh_col = shingle_hashes_jvm(text_col, n) if hashed else shingle_array(F.col(text_col), n)
    sh = docs.select(F.col(id_col).alias("id"), sh_col.alias("sh")).localCheckpoint(
        eager=False
    )
    return _verify_join(pairs, sh, threshold, merge_scan=hashed)


def _verify_join(
    pairs: DataFrame, sh: DataFrame, threshold: float, merge_scan: bool = False
) -> DataFrame:
    """The verify tail shared by the computed and precomputed shingle paths:
    two id equi-joins + the integer-arithmetic threshold test.

    ``merge_scan=True`` (only when the shingle arrays are SORTED-DISTINCT —
    the JVM kernels' output) computes intersection/union sizes with one
    linear merge per pair (sorted_inter_union_jvm) instead of
    array_intersect + array_union, which build a hash set per pair — the
    dominant per-pair cost of the verify stage. Values identical on such
    arrays; a null side maps to -1 and is dropped, exactly like the
    null-propagating expression form."""
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    thr_num = int(round(threshold * 1_000_000))
    j = pairs.join(a, "id_a").join(b, "id_b")
    if merge_scan:
        iu = sorted_inter_union_jvm(F.col("sh_a"), F.col("sh_b"))
        j = j.withColumn("__iu", iu).where(F.col("__iu") >= 0)
        inter = F.shiftrightunsigned(F.col("__iu"), 32)
        union = F.col("__iu").bitwiseAND(F.lit((1 << 32) - 1))
    else:
        inter, union = (c.cast("long") for c in jaccard_columns(F.col("sh_a"), F.col("sh_b")))
    return (
        j.withColumn("inter_size", inter)
        .withColumn("union_size", union)
        .where(
            (F.col("union_size") > 0)
            & (F.col("inter_size") * 1_000_000 >= F.lit(thr_num) * F.col("union_size"))
        )
        .withColumn(
            "jaccard", F.round(F.col("inter_size") / F.col("union_size"), 6)
        )
        .select(
            "id_a",
            "id_b",
            *[c for c in pairs.columns if c not in ("id_a", "id_b")],
            "inter_size",
            "union_size",
            "jaccard",
        )
    )


def verify_pairs_jw(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    p: float = 0.1,
    threshold: float = 0.88,
) -> DataFrame:
    """Keep candidate pairs with reference-semantics Jaro-Winkler >=
    threshold (Arrow-batched pandas_udf — the short-string linkage path)."""

    @F.pandas_udf(T.DoubleType())
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return jw_batch(a, b, p)

    t = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    a = t.select(F.col("id").alias("id_a"), F.col("t").alias("t_a"))
    b = t.select(F.col("id").alias("id_b"), F.col("t").alias("t_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jw", jw(F.col("t_a"), F.col("t_b")))
        .where(F.col("jw") >= F.lit(threshold))
        .select("id_a", "id_b", "jw")
    )
