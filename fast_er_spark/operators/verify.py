"""Candidate-pair verification — exact shingle Jaccard on LSH candidates.

After LSH proposes candidates, each pair is verified with the EXACT word
n-gram Jaccard. Verification runs entirely JVM-side: sorted-distinct shingle
hashes come from the compiled kernel (functions/jvm_sketch.py) and are
compared with one merge scan per pair — no Python in the verify hot path.
(Jaro-Winkler for short linkage fields is scored in operators/agreement.py.)

This mirrors the sketch-then-verify contract of BASELINE.json north_rule:
LSH fixes RECALL (tuned bands), verification fixes PRECISION (exact measure),
so verified pairs equal the brute-force oracle's pairs wherever LSH recall
holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.jvm_sketch import ensure_jvm_udfs, shingle_hashes_jvm, sorted_inter_union_jvm

__all__ = ["verify_pairs_jaccard"]


def verify_pairs_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Keep candidate pairs with exact shingle-Jaccard >= threshold.

    Returns (id_a, id_b, <extra pair columns>, inter_size, union_size,
    jaccard) — any columns beyond (id_a, id_b) on the candidate frame (e.g.
    lsh_candidate_pairs' ``is_star`` marker) pass through unchanged, so
    telemetry can compare candidates to survivors per category. The
    threshold test uses integer arithmetic (inter * 10^6 >= thr * 10^6 *
    union) so it is float-representation independent.

    Shingles are 64-bit hashes computed in the executor JVM
    (functions/jvm_sketch.py), not shingle strings; a cross-shingle hash
    collision (2^-64 per pair) is the only divergence from string Jaccard.

    ``shingles``: a precomputed (id, sh) frame (e.g. from the fused
    signature+shingle kernel — jvm_sketch.py::sig_and_shingles_jvm — which
    shares one tokenization pass with candidate generation; its arrays are
    sorted-distinct, like shingle_hashes_jvm's). The caller
    owns its materialization; ids absent from it simply drop from the
    output, so feeding only the candidate-generating subset is safe.

    The doc->shingles frame is checkpointed once: it feeds BOTH join sides,
    and without materialization Spark recomputes it per side (measured 2x).
    """
    ensure_jvm_udfs(docs.sparkSession)
    if shingles is not None:
        return _verify_join(pairs, shingles.select("id", "sh"), threshold)
    sh = docs.select(
        F.col(id_col).alias("id"), shingle_hashes_jvm(text_col, n).alias("sh")
    ).localCheckpoint(eager=False)
    return _verify_join(pairs, sh, threshold)


def _verify_join(pairs: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """The verify tail shared by the computed and precomputed shingle paths:
    two id equi-joins + the integer-arithmetic threshold test.

    The shingle arrays are SORTED-DISTINCT (the JVM kernels' output), so
    intersection/union sizes come from one linear merge per pair
    (sorted_inter_union_jvm) instead of array_intersect + array_union,
    which build a hash set per pair. A null side maps to -1 and is
    dropped."""
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    thr_num = int(round(threshold * 1_000_000))
    iu = sorted_inter_union_jvm(F.col("sh_a"), F.col("sh_b"))
    j = pairs.join(a, "id_a").join(b, "id_b").withColumn("__iu", iu).where(F.col("__iu") >= 0)
    inter = F.shiftrightunsigned(F.col("__iu"), 32)
    union = F.col("__iu").bitwiseAND(F.lit((1 << 32) - 1))
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
