"""Similarity search over embedding columns (array<float>).

Two paths per the build brief:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products/norms are JVM-side (zip_with + aggregate inside whole-stage
  codegen); ranking via window row_number. O(|Q| x |C|) — fine for small Q
  or as the per-bucket verifier.
- ``lsh_topk``: the scale path — random-hyperplane (SRP) bucketing: sign-bit
  sketches of each vector against ``n_planes`` seeded hyperplanes give a
  bucket key; candidates come only from colliding buckets (multi-probe via
  several independent tables), then exact cosine re-ranks. Recall is tunable
  with (tables, planes); candidates shrink by ~2^planes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

__all__ = [
    "cosine_topk",
    "srp_sketch",
    "srp_sketch_multi",
    "lsh_topk",
    "ivf_centroids",
    "ivf_topk",
    "quantize_norm_batch",
    "quantized_cosine_threshold",
    "embedding_near_dup_pairs",
]


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


# Norms are hoisted to per-SIDE columns before every pair join in this
# module (round 6): inside the pair projection the interpreted norm fold ran
# once per PAIR; per row it runs once on the same array with the same
# operation order, so the cosine is bit-identical (same doubles divided)
# while 2 of the 3 per-pair interpreter folds disappear. The dot fold stays
# per-pair by necessity, and stays an EXPRESSION on purpose — an Arrow
# fold-exact variant measured slower at every dim tested (PERF.md round 5
# #5: 0.71x at 2M pairs x dim 64, 0.36x at 400k x dim 512).


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """(qid, vid, cos, rank): exact top-k by cosine for every query vector.

    NO scan-parallelism guard here, deliberately (measured negative result,
    round 6 interleaved A/B): at bench scale the per-row norm/score work is
    numpy-cheap and the guard's repartition + checkpoint-over-shuffle cost
    more than the single-task stage they spread; at corpus scale the scan is
    already split. See OPTIMIZATION_r06.md."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    scored = q.join(c, F.col("qid") != F.col("vid")).select(
        "qid",
        "vid",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vid").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def srp_sketch(dim: int, n_planes: int = 16, table: int = 0, seed: int = 42):
    """Signed-random-projection sketch UDF: vector -> long bucket key."""
    rng = np.random.default_rng(seed + 1000 * table)
    planes = rng.standard_normal((n_planes, dim))

    @F.pandas_udf(T.LongType())
    def sketch(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (mat @ planes.T) > 0  # (batch, n_planes)
        out = np.zeros(len(vecs), dtype=np.int64)
        for j in range(n_planes):
            out |= bits[:, j].astype(np.int64) << j
        return pd.Series(out)

    return sketch


def srp_sketch_multi(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """All-tables SRP sketch: (batch, dim) matrix -> (batch, n_tables)
    bucket keys, one matmul for every table. Table ``t``'s planes are
    generated exactly like ``srp_sketch(table=t)`` (rng seed + 1000*t), so
    the two give the same keys."""
    planes = np.concatenate([
        np.random.default_rng(seed + 1000 * t).standard_normal((n_planes, dim))
        for t in range(n_tables)
    ])  # (T*P, dim)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    def keys(mat: np.ndarray) -> np.ndarray:
        bits = (mat @ planes.T) > 0
        return bits.reshape(len(mat), n_tables, n_planes).astype(np.int64) @ weights

    return keys


def quantize_norm_batch(mat: np.ndarray, quantize: int = 100) -> tuple[np.ndarray, np.ndarray]:
    """(q, n) for a (batch, dim) float64 matrix: components rounded to
    ``1/quantize`` units as int64, and each row's squared norm. Integer
    vectors make the cosine-threshold test exact (no float comparison), at
    the cost of quantization error ~1/(2*quantize) per component — the
    contract the brute-force oracle twin uses too.

    Rounding is HALF_UP (away from zero) like SQL ROUND, written as
    floor(|v| + 0.5) * sign(v) — np.round would be banker's rounding and
    diverge on exact-.5 doubles (parity-tested against F.round)."""
    scaled = mat * quantize
    q = (np.floor(np.abs(scaled) + 0.5) * np.sign(scaled)).astype(np.int64)
    return q, np.einsum("ij,ij->i", q, q)


def quantized_cosine_threshold(threshold: float):
    """cos(a, b) >= threshold as pure int64 arithmetic over quantized
    vectors: with threshold = num/den (reduced fraction),
    cos >= num/den  <=>  dot > 0 and den^2*dot^2 >= num^2*|a|^2*|b|^2.
    Returns (num, den). Overflow bound: den^2 * |a|^2 * |b|^2 must stay
    below 2^63 — with quantize=100 and unit-ish vectors that holds up to
    ~10^5 dims; larger scales shrink ``quantize``."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1000)
    return fr.numerator, fr.denominator


def embedding_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    method: str = "srp",
    n_planes: int = 8,
    n_tables: int = 16,
    n_cells: int = 256,
    n_assign: int = 2,
    sample: int = 20_000,
    seed: int = 42,
    quantize: int = 100,
    max_bucket_size: int = 4000,
    star_pivots: int = 3,
) -> DataFrame:
    """Near-duplicate pairs (id_a > id_b) over an embedding column — the
    SCALE pair path (SemDeDup-style semantic dedup): bucketed candidates +
    exact integer-quantized cosine verification, never the O(N^2) self-join.

    Two candidate generators, one verify contract:

    - ``method='srp'``: ONE Arrow UDF pass computes all ``n_tables`` SRP
      bucket keys per vector (srp_sketch_multi). Data-independent; the
      right default when the corpus is not cleanly clustered. Per-pair miss
      probability is (1 - (1 - acos(cos)/pi)^n_planes)^n_tables — tune to
      the threshold (low thresholds need few planes / more tables; 0.9+
      production thresholds collide easily).
    - ``method='ivf'``: vectors bucket into their ``n_assign`` nearest
      coarse k-means cells (ivf_centroids codebook; multi-assignment is the
      spill-list trick — a near-dup pair straddling a cell boundary still
      shares a runner-up cell). Data-adaptive; on a CLUSTERED corpus (the
      semantic-dedup case) cells track real density so buckets are tighter
      than random hyperplanes at equal recall.

    Both route through ONE shuffle keyed on (table, bucket) and the shared
    clique/star array expression (lsh.bucket_member_pairs), so hot buckets
    (a mega-cluster of near-identical embeddings) emit a bounded multi-probe
    star instead of an m^2 clique. Verification is exact on the quantized
    vectors (no float compare), so the verified output equals the
    brute-force quantized twin wherever candidate recall holds.

    100 TB design: candidates are O(sum bucket^2 bounded by star caps), the
    two verify joins are plain equi-joins on id (broadcast when the pair
    side is small), and nothing materializes the cross product.
    """
    # NO scan-parallelism guard on the corpus, deliberately (round-6
    # interleaved A/B, guard on/off alternated in one session: warm
    # 2.3-4.3 s WITH vs 1.7-3.7 s WITHOUT at sf0.1): the Arrow feature pass
    # is numpy-cheap per row, and the guard's repartition plus the lazy
    # checkpoint-over-shuffle it creates cost more than the single-task
    # stage they spread. A corpus-scale input is already multi-split.
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull() & (F.size("v") == dim))

    if method == "srp":
        keys_fn = srp_sketch_multi(dim, n_planes, n_tables, seed)
    elif method == "ivf":
        cents = ivf_centroids(corpus, dim, vec_col, n_cells, sample=sample, seed=seed)

        def keys_fn(mat: np.ndarray) -> np.ndarray:
            m = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            return np.argsort(-(m @ cents.T), axis=1)[:, :n_assign].astype(np.int64)

    else:
        raise ValueError("method must be 'srp' or 'ivf'")

    # quantized components + squared norm + ALL bucket keys per VECTOR in a
    # SINGLE vectorized Arrow pass over ONE corpus scan: verify and banding
    # share the input matrix, so they share the scan and the Python crossing
    @F.pandas_udf("q array<long>, n long, keys array<long>")
    def feat(vecs: pd.Series) -> pd.DataFrame:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        q, n = quantize_norm_batch(mat, quantize)
        keys = keys_fn(mat)
        return pd.DataFrame({"q": list(q), "n": n, "keys": list(keys)})

    combined = (
        base.withColumn("fe", feat(F.col("v")))
        .select(
            "id",
            F.col("fe.q").alias("q"),
            F.col("fe.n").alias("n"),
            F.col("fe.keys").alias("keys"),
        )
        # feeds BOTH the banding branch and the verify join sides — one
        # materialization instead of re-running the scan + Arrow pass
        .localCheckpoint(eager=False)
    )
    qv = combined.select("id", "q", "n")

    banded = combined.select("id", F.posexplode("keys").alias("tbl", "bucket"))
    if method == "ivf":
        # the explode position is the assignment RANK, not a table: a pair
        # straddling a boundary shares the cell at different ranks, so the
        # bucket key is the cell alone
        banded = banded.withColumn("tbl", F.lit(0))

    # Pair emission via JOINS, not the text path's per-bucket array
    # expression: embedding buckets are COARSE (2^n_planes keys per table,
    # vs 2^64 minhash band buckets), so a bucket routinely holds hundreds of
    # members and the nested-transform struct construction executes
    # INTERPRETED per element (measured 9.4 s of a 9.7 s query at sf0.1).
    # Hash joins stay inside whole-stage codegen. Semantics match
    # lsh.bucket_member_pairs exactly: full clique for buckets at or under
    # max_bucket_size, bounded multi-probe star against the star_pivots
    # lowest-id members for hot buckets.
    wc = Window.partitionBy("tbl", "bucket")
    banded = banded.select(
        "tbl", "bucket", "id",
        F.count(F.lit(1)).over(wc).alias("cnt"),
        F.row_number().over(wc.orderBy("id")).alias("rk"),
    ).localCheckpoint(eager=False)
    small = banded.where(F.col("cnt") <= max_bucket_size)
    sa = small.select("tbl", "bucket", F.col("id").alias("id_a"))
    sb = small.select("tbl", "bucket", F.col("id").alias("id_b"))
    clique = sa.join(sb, ["tbl", "bucket"]).where(F.col("id_a") > F.col("id_b"))
    hot = banded.where(F.col("cnt") > max_bucket_size)
    piv = hot.where(F.col("rk") <= star_pivots).select(
        "tbl", "bucket", F.col("id").alias("pid")
    )
    star = (
        hot.select("tbl", "bucket", "id")
        .join(piv, ["tbl", "bucket"])
        .where(F.col("id") != F.col("pid"))
        .select(
            "tbl", "bucket",
            F.greatest("id", "pid").alias("id_a"),
            F.least("id", "pid").alias("id_b"),
        )
    )
    cand = (
        clique.select("id_a", "id_b")
        .unionByName(star.select("id_a", "id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    num, den = quantized_cosine_threshold(threshold)
    a = qv.select(F.col("id").alias("id_a"), F.col("q").alias("qa"), F.col("n").alias("na"))
    b = qv.select(F.col("id").alias("id_b"), F.col("q").alias("qb"), F.col("n").alias("nb"))

    # per-PAIR integer dot in a vectorized Arrow batch, not the interpreted
    # zip_with+aggregate fold (O(dim) interpreter steps per candidate — the
    # last per-pair HOF on this path). int64 addition is order-independent,
    # so the value is EXACTLY the fold's. asNondeterministic: the threshold
    # filter below references the column; without the marker Catalyst
    # collapses filter+project into two Arrow stages that each run the UDF
    # (the jw.py / band_buckets double-eval trap).
    @F.pandas_udf(T.LongType())
    def int_dot(qa: pd.Series, qb: pd.Series) -> pd.Series:
        am = np.stack(qa.to_numpy())
        bm = np.stack(qb.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", am, bm))

    int_dot = int_dot.asNondeterministic()
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", int_dot(F.col("qa"), F.col("qb")).alias("d"), "na", "nb")
        .where(
            (F.col("d") > 0)
            & (
                F.lit(den * den) * F.col("d") * F.col("d")
                >= F.lit(num * num) * F.col("na") * F.col("nb")
            )
        )
        .select("id_a", "id_b")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: SRP-bucketed candidates, exact cosine re-rank.

    Union over ``n_tables`` independent hyperplane tables; a query's
    candidates are corpus vectors sharing its bucket in ANY table.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    cand = None
    for t in range(n_tables):
        sk = srp_sketch(dim, n_planes, table=t, seed=seed)
        qb = q.withColumn("bucket", sk(F.col("qv"))).withColumn("tbl", F.lit(t))
        cb = c.withColumn("bucket", sk(F.col("cv"))).withColumn("tbl", F.lit(t))
        pairs = qb.join(cb, ["tbl", "bucket"]).where(F.col("qid") != F.col("vid")).select(
            "qid", "vid"
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    cand = cand.dropDuplicates(["qid", "vid"])
    # expression re-rank KEPT on purpose: the Arrow fold-exact variant
    # measured SLOWER at every dim tested (PERF.md round 5 #5);
    # norms ride the join sides (see module note — bit-identical cos)
    scored = (
        cand.join(q, "qid")
        .join(c, "vid")
        .select(
            "qid",
            "vid",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vid").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_centroids(
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    n_cells: int = 64,
    sample: int = 20_000,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Coarse IVF codebook: k-means on a bounded driver-side sample.

    The sample cap makes this O(sample * n_cells * iters) regardless of
    corpus size — the standard IVF training shortcut. The sample is the
    ``sample`` rows with the smallest seeded content hash (top-k by
    xxhash64), NOT ``limit()``: limit takes the first partitions, and on a
    corpus laid out by crawl date or language the codebook would only see
    one region of the embedding space (probe recall silently collapses for
    the rest). Hash-ordering is uniform over rows, reproducible across
    partition layouts, and one TakeOrdered pass. Deterministic for a fixed
    seed."""
    frac_rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .where(F.col("v").isNotNull())
        .orderBy(F.xxhash64(F.lit(seed), F.col("v").cast("string")))
        .limit(sample)
        .collect()
    )
    pts = np.array([r["v"] for r in frac_rows], dtype=np.float64)
    if pts.ndim != 2 or pts.shape[1] != dim:
        raise ValueError(f"expected {dim}-dim vectors, got shape {pts.shape}")
    pts = pts / np.maximum(np.linalg.norm(pts, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = pts[rng.choice(len(pts), size=min(n_cells, len(pts)), replace=False)]
    for _ in range(iters):
        # cosine assignment (all unit vectors): argmax dot
        assign = (pts @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                v = pts[m].mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 64,
    n_probe: int = 8,
    n_assign: int = 1,
    sample: int = 20_000,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus vectors are
    assigned to their ``n_assign`` nearest coarse centroids (one broadcast
    matmul in an Arrow UDF — no shuffle beyond the final cell join); each
    query probes its ``n_probe`` nearest cells and exact cosine re-ranks
    within them. The complement of lsh_topk: data-adaptive cells beat random
    hyperplanes on clustered embeddings, candidates shrink by
    ~n_cells/(n_probe*n_assign). ``n_assign > 1`` replicates each corpus
    vector into its runner-up cells (IVF spill lists) — index size grows
    n_assign-fold but boundary vectors stop falling between probed cells,
    which matters when the corpus is NOT cleanly clustered."""
    cents = ivf_centroids(corpus, dim, vec_col, n_cells, sample=sample, seed=seed)

    def _cells_udf(n_top: int):
        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def top_cells(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ cents.T
            order = np.argsort(-sims, axis=1)[:, :n_top]
            return pd.Series([row.astype("int32").tolist() for row in order])

        return top_cells

    probe_cells = _cells_udf(n_probe)
    assign_cells = _cells_udf(n_assign)

    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", _norm(F.col("qv"))).withColumn(
        "cell", F.explode(probe_cells(F.col("qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("cn", _norm(F.col("cv"))).withColumn(
        "cell", F.explode(assign_cells(F.col("cv")))
    )
    # expression re-rank KEPT on purpose (PERF.md round 5 #5: the Arrow
    # fold-exact variant measured slower at every dim tested); dedup AFTER
    # scoring so the dedup shuffle carries one 8-byte cos, not two vectors;
    # norms ride the join sides (see module note — bit-identical cos)
    scored = (
        q.join(c, "cell")
        .where(F.col("qid") != F.col("vid"))
        .select(
            "qid",
            "vid",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
                "cos"
            ),
        )
        .dropDuplicates(["qid", "vid"])
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vid").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
