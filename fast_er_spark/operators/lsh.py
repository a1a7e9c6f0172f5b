"""MinHash-LSH candidate generation with explicit shuffle/skew control.

The scale replacement for the reference's all-pairs GPU loop
(comparison.py:133-186): instead of scoring |A|x|B| pairs, documents are
shingled, MinHash-signed and banded — two docs become a candidate pair iff
some band of their signatures collides. Banding, bucketing and the
within-bucket self-join are plain DataFrame ops (NOT pyspark.ml MinHashLSH)
so partitioning and skew handling stay explicit, per BASELINE.json
north_rule:

- word shingles are signed by the compiled JVM OPH kernel
  (functions/jvm_sketch.py); char shingles by the Arrow-batched k-permutation
  UDF (functions/minhash.py), the only Python on this path;
- band hashes are computed JVM-side (xxhash64 over a signature slice);
- ONE shuffle keyed on (band, band_hash) gathers bucket members (hash agg,
  no sort); pairs are emitted by a JVM array expression — no self-join;
- hot buckets (Zipf-skewed duplicate clusters) are capped: buckets larger
  than ``max_bucket_size`` emit a bounded multi-probe star (every member ->
  each of the first ``star_pivots`` members) instead of the quadratic
  clique, bounding pair fan-out to O(star_pivots * bucket) — the
  salting-equivalent guard AQE cannot do for a logical key.

RECALL CAVEAT (round-1 ADVICE): star edges only keep a hot-bucket member
connected if it survives DOWNSTREAM VERIFICATION against a pivot. A hot
bucket that mixes distinct clusters can therefore silently drop members
whose own cluster has no pivot. Multi-probe (star_pivots=3 default) bounds
that risk — a member stays connected unless it fails verification against
ALL pivots — but does not eliminate it. DedupPipeline counts the star
candidates that verification rejects (the ``star_rejected_by_verify`` row
of its ``metrics()``, projected from the ``_ledger`` table); watch it when
tuning max_bucket_size.

Tuning: collision probability for Jaccard j is 1 - (1 - j^r)^b with b bands
of r rows. Defaults (b=32, r=4, 128 perms) give P(candidate) > 0.9999 at
j = 0.8 and ~0.03 at j = 0.3.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.jvm_sketch import ensure_jvm_udfs, oph_signature_jvm, sig_and_shingles_jvm
from ..functions.minhash import minhash_batch

__all__ = [
    "with_minhash_signature",
    "fused_sketch_frame",
    "band_hash_array",
    "band_buckets",
    "bucket_member_pairs",
    "lsh_candidate_pairs",
]


def fused_sketch_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 128,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, minhash, sh) for non-blank docs via the fused one-tokenization
    JVM kernel (jvm_sketch.sig_and_shingles_jvm): ONE pass produces both the
    LSH signature and the verify-stage shingle hashes, halving the dominant
    map-side cost of the sketch-then-verify path. Values are bit-identical
    to the split kernels (parity-tested). The caller owns materialization
    (checkpoint it or write it to a stage table before fanning out)."""
    ensure_jvm_udfs(df.sparkSession)
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")).where(
        F.col("__t").isNotNull() & (F.length(F.trim(F.col("__t"))) > 0)
    )
    return base.select(
        "id", sig_and_shingles_jvm("__t", num_perm, n, seed).alias("ss")
    ).select("id", F.col("ss")[0].alias("minhash"), F.col("ss")[1].alias("sh"))


def with_minhash_signature(
    df: DataFrame,
    text_col: str,
    num_perm: int = 128,
    n: int = 3,
    mode: str = "word",
    seed: int = 42,
    out_col: str = "minhash",
) -> DataFrame:
    """Add an ArrayType(LongType) MinHash signature column; the shingle
    ``mode`` picks the kernel.

    - ``mode='word'``: one-permutation hashing compiled inside the executor
      JVM (jvm_sketch.oph_signature_jvm): no Arrow transfer, no Python
      worker. ``num_perm`` must be a power of two; blank text signs NULL.
    - ``mode='char'``: the classic K-permutation family (Arrow pandas_udf,
      minhash.minhash_batch), whose recall on short values the char-LSH
      value candidates are tuned for (agreement.py); blank text signs NULL
      here too.

    Both keep E[slot match] = Jaccard, but the two families are mutually
    incompatible — never mix modes in one index."""
    if mode == "word":
        ensure_jvm_udfs(df.sparkSession)
        return df.withColumn(out_col, oph_signature_jvm(text_col, num_perm, n, seed))
    if mode != "char":
        raise ValueError(f"mode must be 'word' or 'char', got {mode!r}")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        return minhash_batch(texts, num_perm=num_perm, n=n, mode=mode, seed=seed)

    return df.withColumn(out_col, sig(F.col(text_col)))


def band_hash_array(sig_col: str = "minhash", bands: int = 32, rows_per_band: int = 4):
    """array<long> of the ``bands`` band hashes of ``sig_col`` — xxhash64 of
    (band index, signature slice), computed JVM-side (no UDF) — or NULL for
    a NULL signature, so ``posexplode`` of it emits no buckets.

    The null guard matters: xxhash64 IGNORES a null slice argument, so
    otherwise every null-signature row (blank docs under either signature
    kernel) would hash to the same constant bucket per band and all
    such rows would pair with each other. It is a WHEN inside the explode
    input, NOT a .where() on the signature column — a filter referencing a
    UDF column splits the plan into filter+project stages that each evaluate
    the signature UDF (measured: 2 ArrowEvalPython stages, 2x the dominant
    corpus-scale cost)."""
    # ONE parsed SQL string, not `bands` Column objects: each Column op is a
    # py4j round trip, and 32 xxhash64(slice(...)) built per invocation
    # measured ~0.3 s of pure driver-side construction per query — the
    # parser builds the identical expression tree (int literals and all) in
    # one call
    band_hashes = F.expr(
        "array("
        + ", ".join(
            f"xxhash64({b}, slice(`{sig_col}`, {b * rows_per_band + 1}, {rows_per_band}))"
            for b in range(bands)
        )
        + ")"
    )
    return F.when(F.col(sig_col).isNotNull(), band_hashes)


def band_buckets(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, bucket) — one row per (doc, band) with a non-NULL
    signature; bucket = band_hash_array's hash of the signature slice."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(band_hash_array(sig_col, bands, rows_per_band)).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 128,
    bands: int = 32,
    rows_per_band: int = 4,
    n: int = 3,
    mode: str = "word",
    seed: int = 42,
    max_bucket_size: int = 2000,
    star_pivots: int = 3,
    mark_star: bool = False,
    presigned: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a > id_b), deduplicated across
    bands. Rows with empty text are excluded (nothing to match).

    ``mark_star=True`` adds an ``is_star`` boolean column: true iff the pair
    was emitted ONLY by hot-bucket star caps (never by a full clique). Star
    pairs are the ones the RECALL CAVEAT above is about — downstream
    verification rejecting them is the signal that a hot bucket mixed
    clusters; the pipeline counts exactly that per run (see
    DedupPipeline).

    ``presigned``: an (id, minhash) frame with signatures already computed
    (e.g. the fused signature+shingle kernel, jvm_sketch.py::
    sig_and_shingles_jvm, which shares one tokenization pass with the
    verify stage). When given, ``df``/``text_col``/``mode`` are ignored
    for signing; the signatures MUST come from one family at this
    num_perm."""
    if bands * rows_per_band > num_perm:
        raise ValueError("bands * rows_per_band must be <= num_perm")

    if presigned is not None:
        # contract: columns already (id, minhash)
        signed = presigned.select("id", "minhash")
    else:
        base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")).where(
            F.col("__text").isNotNull() & (F.length(F.trim(F.col("__text"))) > 0)
        )
        signed = with_minhash_signature(base, "__text", num_perm, n, mode, seed)
    ex = band_buckets(signed, "id", "minhash", bands, rows_per_band)

    # ONE hash aggregation gathers each bucket's members — no sort-based
    # window, no self-join — and ONE projection emits the pairs, so the
    # whole candidate generation is a single pass over the banded frame
    # (sig UDF -> explode -> groupBy -> explode). Branching clique/star into
    # two DataFrame consumers would recompute that upstream per branch
    # (measured 2x wall); instead the clique-vs-star choice is a CASE inside
    # the pair-array expression.
    buckets = (
        ex.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )

    return bucket_member_pairs(buckets, max_bucket_size, star_pivots, mark_star)


def bucket_member_pairs(
    buckets: DataFrame,
    max_bucket_size: int = 2000,
    star_pivots: int = 3,
    mark_star: bool = False,
) -> DataFrame:
    """(id_a, id_b) with id_a > id_b from a frame with an ascending-sorted
    ``ids`` array column (one row per bucket), deduplicated across buckets.

    Full clique for normal buckets (ids ascending: (ids[j>i], ids[i]) has
    id_a > id_b); bounded multi-probe star for hot buckets — every member
    pairs with the first ``star_pivots`` members, so fan-out is
    O(star_pivots * bucket) and a member only loses connectivity if it fails
    downstream verification against ALL pivots (see module RECALL CAVEAT).
    The clique-vs-star choice is a CASE inside one pair-array expression:
    branching into two DataFrame consumers would recompute the upstream
    bucketing per branch (measured 2x wall)."""
    # parsed SQL strings for the same reason as band_buckets: the nested
    # lambda Column construction costs ~0.17 s of py4j round trips per
    # invocation; the parser builds the identical trees in two calls
    ids = F.col("ids")
    clique_array = F.expr(
        "flatten(transform(ids, (x, i) -> transform("
        "slice(ids, i + 2, size(ids)), y -> struct(y AS id_a, x AS id_b))))"
    )
    star_array = F.expr(
        f"flatten(transform(slice(ids, 1, {int(star_pivots)}), (piv, pi) -> "
        "transform(slice(ids, pi + 2, size(ids)), "
        "y -> struct(y AS id_a, piv AS id_b))))"
    )
    pairs = buckets.select(
        F.explode(
            F.when(F.size(ids) <= max_bucket_size, clique_array).otherwise(star_array)
        ).alias("p"),
        *(
            [(F.size(ids) > max_bucket_size).alias("is_star")]
            if mark_star
            else []
        ),
    ).select("p.id_a", "p.id_b", *(["is_star"] if mark_star else []))

    if mark_star:
        # min(bool): a pair seen via ANY clique bucket is not star-only —
        # same single shuffle as dropDuplicates (which is a groupBy too)
        return pairs.groupBy("id_a", "id_b").agg(F.min("is_star").alias("is_star"))
    return pairs.dropDuplicates(["id_a", "id_b"])
