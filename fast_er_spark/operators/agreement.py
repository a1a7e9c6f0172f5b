"""Per-variable agreement levels + pattern assembly (the engine core).

Replaces the reference's per-variable GPU passes and setdiff/intersect pattern
merge (comparison.py:662-725) with:

1. one level-edge DataFrame per variable, built from the DISTINCT values of
   the compared column(s) (the reference's "unique" optimization,
   comparison.py:346-498, as a distinct + join-back);
2. a single union + groupBy-sum: since every variable emits only level>0
   pairs, ``pattern_id = sum_k level_k * stride_k`` falls out of one shuffle —
   missing variables contribute 0, which is exactly their level.

Dedup quirk reproduced: rows sharing a value score 1.0 (level 2) regardless
of Jaro-Winkler — the reference's unique-value diagonal short-circuit
(deduplication.py:185-190). Linkage has no such short-circuit: equal values
in A and B are scored with real JW (so 1-byte equal values score 0.0, the
window quirk).

Scale notes: the distinct-value cross product is the *exact* candidate
strategy (reference parity); at corpus scale the caller passes an LSH
candidate generator instead (operators/lsh.py) — same verify/join-back path.
All join-backs are plain equi-joins that Catalyst turns into broadcast joins
when the matched-value side is small (it is: values that cleared a 0.88 JW
band are rare).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.jvm_sketch import char_mask_jvm, ensure_jvm_udfs, jw_level_jvm_bin
from ..patterns import strides

__all__ = [
    "char_lsh_value_candidates",
    "default_value_candidates",
    "scored_value_pairs",
    "fuzzy_levels_dedup",
    "exact_levels_linkage",
    "exact_levels_dedup",
    "assemble_patterns",
    "pattern_counts",
]


def char_lsh_value_candidates(
    num_perm: int = 64,
    bands: int = 32,
    rows_per_band: int = 2,
    n: int = 2,
    seed: int = 42,
) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Candidate generator for `scored_value_pairs` at scale: char-bigram
    MinHash-LSH over the DISTINCT VALUES of the compared column, so the JW
    UDF only scores value pairs that plausibly clear the 0.88 band instead
    of the full distinct cross product. (b=32, r=2) collides at 0.95+ for
    char-bigram Jaccard 0.3 — short JW>=0.88 name pairs bottom out near
    bigram Jaccard ~0.3, so per-pair recall stays >=0.99 there."""
    from .lsh import lsh_candidate_pairs

    def gen(vals_a: DataFrame, vals_b: DataFrame) -> DataFrame:
        a = vals_a.select(F.col("val_a").alias("v")).withColumn("side", F.lit(0))
        b = vals_b.select(F.col("val_b").alias("v")).withColumn("side", F.lit(1))
        both = a.unionByName(b).distinct()
        # unique id per (value, side); shift+or wraps bitwise (no ANSI
        # overflow, unlike arithmetic * 2 + side)
        both = both.withColumn(
            "vid", F.shiftleft(F.xxhash64("v"), 1).bitwiseOR(F.col("side").cast("long"))
        )
        pairs = lsh_candidate_pairs(
            both, "vid", "v", num_perm=num_perm, bands=bands,
            rows_per_band=rows_per_band, n=n, mode="char", seed=seed,
        )
        ids = both.select("vid", "v")
        va = ids.withColumnRenamed("vid", "id_a").withColumnRenamed("v", "va")
        vb = ids.withColumnRenamed("vid", "id_b").withColumnRenamed("v", "vb")
        j = pairs.join(va, "id_a").join(vb, "id_b")
        # emit both orientations: caller joins val_a to A's values and
        # val_b to B's, and LSH pairs are unordered
        out = j.select(F.col("va").alias("val_a"), F.col("vb").alias("val_b")).unionByName(
            j.select(F.col("vb").alias("val_a"), F.col("va").alias("val_b"))
        )
        return out.join(vals_a, "val_a", "left_semi").join(
            vals_b, "val_b", "left_semi"
        ).distinct()

    return gen


# per-core pair budget for the reference-exact cross product of distinct
# values; the effective ceiling is budget_per_core * defaultParallelism
# (an exact cross is embarrassingly parallel, so the pain threshold scales
# with the cluster). Above it the default candidate generator switches to
# char-LSH pruning — O(|uA|*|uB|) JW calls is the one thing that cannot
# survive a 100x cardinality scale-up. 32M pairs/core ~ 80 s of the
# bit-parallel JW kernel (~0.4M pairs/s/core measured); below that, sketch
# overhead (signatures, banding, hot buckets) costs more than it saves —
# especially on high-baseline-similarity value sets where LSH prunes little.
AUTO_LSH_PAIRS_PER_CORE = 32_000_000
# JW kernel stage sizing: pairs/partition keeps tasks ~1-2 s on one core
# without fanning a small cross into hundreds of tiny scheduled stages
# (measured: a 5.6e8-pair cross at 250k pairs/task = 2240 tasks x ~50 ms
# of scheduling overhead per fuzzy var).
PAIRS_PER_PARTITION = 3_000_000
# Below this implied pair count the char-multiset mask prefilter is skipped
# even when enabled: the JVM kernel clears ~1e8 pairs/s on 32 cores, so at
# <3e7 pairs the whole unpruned pair space costs less than the mask's fixed
# plan overhead (two non-codegen Java-UDF projections on the value frames
# plus the popcount filter stage — measured +0.35 s on the 0.5M-pair sf0.1
# supplier dedup, where TPC-H's near-identical name multisets prune nothing).
# Break-even at full pruning is ~0.35 s * 1.3e8 pairs/s ~ 4.5e7 pairs.
MASK_MIN_PAIRS = 30_000_000


def default_value_candidates(
    vals_a: DataFrame,
    vals_b: DataFrame,
    triangular: bool = False,
    pair_budget: int | None = None,
    sizes: tuple | None = None,
    mask: bool = False,
) -> DataFrame:
    """Adaptive candidate frame (val_a, val_b) for fuzzy scoring.

    Counts the distinct-value frames; at or under ``pair_budget`` implied
    pairs it emits the reference-exact cross product with the JW stage
    partitioned to PAIRS_PER_PARTITION (small side broadcast, so the
    cartesian never multiplies partition counts); above it, char-bigram
    MinHash-LSH pruning (the scale path — candidate count is O(near-dups),
    not O(|uA|*|uB|)). ``triangular=True`` keeps only val_a < val_b
    (dedup scores each unordered value pair once)."""
    if pair_budget is None:
        cores = vals_a.sparkSession.sparkContext.defaultParallelism
        pair_budget = AUTO_LSH_PAIRS_PER_CORE * max(1, cores)
    # sizes: caller-precomputed distinct counts (Comparison.fit batches ALL
    # variables' counts into one aggregation job per side — 2 jobs instead
    # of 2 per variable)
    na, nb = sizes if sizes is not None else (vals_a.count(), vals_b.count())
    if na * nb > pair_budget:
        # equal values are ALWAYS candidates via one hash equi-join: at
        # corpus scale most true matches agree byte-exactly, and their
        # recall must not depend on LSH bucketing (hot-bucket star caps can
        # drop a non-pivot equal pair). LSH only has to find the typo tail.
        eq = vals_a.join(
            vals_b, F.col("val_a") == F.col("val_b"), "inner"
        ).select("val_a", "val_b")
        # explicit repartition before dedup: the numbered repartition is
        # exempt from AQE partition coalescing, which otherwise squeezes the
        # byte-small candidate frame into a handful of partitions and
        # serializes the CPU-heavy JW stage right above it (measured: 10
        # tasks on 32 cores at 100k x 100k)
        sc = vals_a.sparkSession.sparkContext
        cand = (
            char_lsh_value_candidates()(vals_a, vals_b)
            .unionByName(eq)
            .repartition(2 * sc.defaultParallelism, "val_a", "val_b")
            .dropDuplicates(["val_a", "val_b"])  # a pair scored twice would
            # double its level contribution in assemble_patterns
        )
    else:
        n_part = max(1, -(-(na * nb) // PAIRS_PER_PARTITION))
        # mask (scored_value_pairs): the 64-bit char-multiset sketch is
        # computed ONCE per distinct value here, pre-cross, and rides the
        # cross join as one long per side — the bound filter above the
        # cross then rejects most pairs before the JW kernel ever runs
        if mask and na * nb >= MASK_MIN_PAIRS:
            vals_a = vals_a.withColumn("__ma", char_mask_jvm(F.col("val_a").cast("binary")))
            vals_b = vals_b.withColumn("__mb", char_mask_jvm(F.col("val_b").cast("binary")))
        # broadcast whichever side is SMALLER: the budget bounds na*nb, not
        # the sides individually, so a 10 x 1e8 shape stays under budget
        # while a fixed-side broadcast would ship 1e8 strings (past Spark's
        # 8 GB broadcast limit). Under the budget min(na, nb) <= sqrt(budget)
        # (~32k values at the default), always broadcast-safe.
        if nb <= na:
            cand = vals_a.repartition(n_part).crossJoin(F.broadcast(vals_b))
        else:
            cand = vals_b.repartition(n_part).crossJoin(F.broadcast(vals_a))
    return cand.where(F.col("val_a") < F.col("val_b")) if triangular else cand


def scored_value_pairs(
    vals_a: DataFrame,
    vals_b: DataFrame,
    p: float,
    lower: float,
    upper: float,
    candidates: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    triangular: bool = False,
    sizes: tuple | None = None,
) -> DataFrame:
    """(val_a, val_b, level) for level > 0, over distinct value frames.

    ``candidates`` maps (vals_a, vals_b) -> DataFrame(val_a, val_b); the
    default is adaptive (``default_value_candidates``): reference-exact
    cross product under the per-core pair budget, char-LSH
    pruning above it.

    Levels come from the byte-exact executor-JVM kernel (jvm/JwUdfs.java —
    float-op-order identical to functions.jw.jaro_winkler_bytes, so levels
    can never differ from the Python reference).
    """
    ensure_jvm_udfs(vals_a.sparkSession)
    # char-multiset bound filter (sound, never drops a level>0 pair):
    # the greedy matcher's match count m <= |multiset byte intersection|
    # <= bit_count(mask_a & mask_b) (collisions only overcount), and
    #   jw >= lower  =>  jaro >= jmin := (lower - 4p)/(1 - 4p)
    #                =>  m/l1 + m/l2 + 1 >= 3*jmin
    #                =>  m*(l1+l2) >= (3*jmin - 1)*l1*l2.
    # At the defaults (p=0.1, lower=0.88): random name pairs share <1 mask
    # bit while the bound demands ~0.7*len matches, so the overwhelming
    # majority of cross-product candidates never reach the kernel.
    # Below MASK_MIN_PAIRS implied pairs default_value_candidates skips it
    # (fixed plan overhead exceeds the whole unpruned kernel cost there).
    mask_coef = 0.0
    if 4 * p < 1:
        mask_coef = 3 * ((lower - 4 * p) / (1 - 4 * p)) - 1
    use_mask = mask_coef > 0 and candidates is None
    if candidates is None:
        cand = default_value_candidates(vals_a, vals_b, triangular, sizes=sizes, mask=use_mask)
    else:
        cand = candidates(vals_a, vals_b)
        if triangular:
            cand = cand.where(F.col("val_a") < F.col("val_b"))
    # length-band prefilter (codegen, evaluated BEFORE the kernel call in
    # the combined predicate): jw = jaro + l*p*(1-jaro) with l <= 4, and
    # jaro <= (2 + min_len/max_len)/3, so jw >= lower forces
    # min_len/max_len >= 3*(lower - 4p)/(1 - 4p) - 2. Pairs failing the
    # bound CANNOT reach level > 0 — the filter only skips the per-call
    # UTF8String->String conversions the kernel's own early exits cannot
    # avoid. The 1e-9 slack makes float rounding strictly conservative
    # (never over-prunes); bound <= 0 (high p / low lower) disables it.
    if 4 * p < 1:
        ratio = 3 * (lower - 4 * p) / (1 - 4 * p) - 2 - 1e-9
        if ratio > 0:
            # octet_length, not length: the kernels score BYTES (reference
            # byte semantics), and code-point ratios are not a sound proxy
            # for byte ratios on multi-byte text
            la, lb = F.octet_length("val_a"), F.octet_length("val_b")
            cand = cand.where(
                F.least(la, lb).cast("double") >= F.greatest(la, lb) * F.lit(ratio)
            )
    if "__ma" in cand.columns:
        # the char-multiset bound (derivation above), COLLISION-COMPENSATED:
        # the (c, k) pairs of one string are distinct by construction, so
        # lost_X := octet_length(X) - bit_count(mask_X) counts that string's
        # within-mask bit collisions. A collision inside the intersection
        # set is a collision in BOTH strings, hence
        #   I <= bit_count(ma & mb) + min(lost_a, lost_b)
        # (without the min term the filter is UNSOUND: 'dalee' vs 'dnlee'
        # share 4 matched bytes but only 3 mask bits — l@0 and e@1 collide
        # inside 'dalee'). Keep iff that bound * (l1+l2) >= coef * l1 * l2;
        # 1e-9 slack keeps float rounding strictly conservative; l1*l2 = 0
        # (empty string) trivially keeps and the kernel scores it 0.
        la, lb = F.octet_length("val_a"), F.octet_length("val_b")
        pca = F.bit_count(F.col("__ma"))
        pcb = F.bit_count(F.col("__mb"))
        inter = F.bit_count(F.col("__ma").bitwiseAND(F.col("__mb")))
        bound = inter + F.least(la - pca, lb - pcb)
        cand = cand.where(
            bound.cast("double") * (la + lb).cast("double")
            >= F.lit(mask_coef - 1e-9) * la.cast("double") * lb.cast("double")
        ).drop("__ma", "__mb")
    # score BINARY columns: Spark's string->binary cast is the UTF-8 bytes
    # (exactly what the kernel hashes), and BinaryType crosses the Java-UDF
    # bridge as byte[] with no conversion — a String signature pays a UTF-16
    # decode in the bridge plus a UTF-8 re-encode in the kernel, two
    # transcodes + two allocations per scored pair (~1.3e9 pairs at
    # 100k x 100k).
    return (
        cand.withColumn(
            "level",
            jw_level_jvm_bin(
                F.col("val_a").cast("binary"), F.col("val_b").cast("binary"), p, lower, upper
            ),
        )
        .where(F.col("level") > 0)
        .select("val_a", "val_b", "level")
    )


def fuzzy_value_parts_linkage(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    p: float = 0.1,
    lower: float = 0.88,
    upper: float = 0.94,
    candidates=None,
    block: bool = False,
    sizes: tuple | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three frames one fuzzy variable's agreement derives from:
    ``(matched, rows_a, rows_b)`` where ``matched`` = (val_a, val_b, level>0)
    over DISTINCT value pairs and rows_* are the (id, value) projections.

    Exposed separately so the analytic-singles counts engine (linkage.py)
    can consume the value-pair frame directly — joint
    (fuzzy-level x exact-pattern) counts collapse the nA*nB pair
    multiplicity at the value level, so single-agreement pairs never need
    to be materialized. ``join_back_linkage`` below gives the per-pair
    view."""
    # NO checkpoint on the distinct frames, deliberately (measured this
    # round): localCheckpoint(eager=False) of an AQE plan with a shuffle
    # EXECUTES that shuffle at call time on the driver thread — 8 serial
    # distinct jobs per 4-variable fit, +18% on the 100k x 100k workload in
    # an interleaved A/B. The recomputed distinct is fused into the big
    # parallel downstream jobs and costs less than serializing it.
    vals_a = df_a.select(F.col(col_a).cast("string").alias("val_a")).where(
        F.col("val_a").isNotNull()
    ).distinct()
    vals_b = df_b.select(F.col(col_b).cast("string").alias("val_b")).where(
        F.col("val_b").isNotNull()
    ).distinct()
    matched = scored_value_pairs(vals_a, vals_b, p, lower, upper, candidates, sizes=sizes)
    bl = ["__block"] if block else []
    rows_a = df_a.select(F.col(id_a), F.col(col_a).cast("string").alias("val_a"), *bl)
    rows_b = df_b.select(F.col(id_b), F.col(col_b).cast("string").alias("val_b"), *bl)
    return matched, rows_a, rows_b


def join_back_linkage(
    matched: DataFrame,
    rows_a: DataFrame,
    rows_b: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    block: bool = False,
) -> DataFrame:
    """(id_a, id_b, level) from the parts returned by
    ``fuzzy_value_parts_linkage`` — two value equi-joins, never a pair
    cross product (reference indices_inverse, comparison.py:163)."""
    bl = ["__block"] if block else []
    return (
        matched.join(rows_a, "val_a")
        .join(rows_b, ["val_b", *bl])
        .select(id_a, id_b, "level")
    )


def fuzzy_value_parts_dedup(
    df: DataFrame,
    col: str,
    id_col: str = "id",
    p: float = 0.1,
    lower: float = 0.88,
    upper: float = 0.94,
    candidates=None,
    block: bool = False,
    sizes: tuple | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(matched, rows)`` for one fuzzy dedup variable: ``matched`` =
    strict (val_a < val_b, level > 0) scored value pairs, ``rows`` = the
    (id, val[, __block]) projection. Exposed for the analytic-singles
    engine (same rationale as ``fuzzy_value_parts_linkage``); equal-value
    row pairs are NOT in ``matched`` — they take the diagonal
    short-circuit in ``join_back_dedup``."""
    # no checkpoint on the distinct frame — see fuzzy_value_parts_linkage:
    # a lazy checkpoint of an AQE shuffle plan executes at call time and
    # serializes the fit; the recompute fuses into parallel stages
    vals = df.select(F.col(col).cast("string").alias("val_a")).where(
        F.col("val_a").isNotNull()
    ).distinct()
    # different-value candidates: unordered value pairs (val_a < val_b),
    # each scored exactly once (JW is symmetric)
    vals_b = vals.select(F.col("val_a").alias("val_b"))
    if sizes is None:
        # both sides ARE the same frame: one count job, not two
        n_vals = vals.count()
        sizes = (n_vals, n_vals)
    matched = scored_value_pairs(
        vals, vals_b, p, lower, upper, candidates, triangular=True, sizes=sizes
    )
    bl = ["__block"] if block else []
    rows = df.select(F.col(id_col), F.col(col).cast("string").alias("val"), *bl)
    return matched, rows


def join_back_dedup(
    matched: DataFrame,
    rows: DataFrame,
    id_col: str = "id",
    block: bool = False,
) -> DataFrame:
    """(id_a, id_b, level), id_a > id_b, from ``fuzzy_value_parts_dedup``
    parts."""
    bl = ["__block"] if block else []
    ra = rows.select(F.col(id_col).alias("ida"), F.col("val").alias("val_a"), *bl)
    rb = rows.select(F.col(id_col).alias("idb"), F.col("val").alias("val_b"), *bl)
    # canonicalize each row pair as (max, min) like the reference
    # (deduplication.py:301-310)
    diff_val = (
        matched.join(ra, "val_a")
        .join(rb, ["val_b", *bl])
        .select(
            F.greatest("ida", "idb").alias("id_a"),
            F.least("ida", "idb").alias("id_b"),
            "level",
        )
    )
    # same-value pairs: diagonal short-circuit, level 2
    join_same = (F.col("val_a") == F.col("val_b")) if not block else (
        (F.col("val_a") == F.col("val_b")) & (ra["__block"] == rb["__block"])
    )
    same_val = (
        ra.join(rb, join_same)
        .where(F.col("ida") > F.col("idb"))
        .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"), F.lit(2).alias("level"))
    )
    return diff_val.unionByName(same_val)


def fuzzy_levels_dedup(
    df: DataFrame,
    col: str,
    id_col: str = "id",
    p: float = 0.1,
    lower: float = 0.88,
    upper: float = 0.94,
    candidates=None,
    block: bool = False,
    sizes: tuple | None = None,
) -> DataFrame:
    """(id_a, id_b, level) with id_a > id_b for one fuzzy variable within df.

    Equal-value row pairs take the diagonal short-circuit (level 2);
    distinct-value pairs are scored with JW over the strict value pairs.
    """
    matched, rows = fuzzy_value_parts_dedup(
        df, col, id_col, p, lower, upper, candidates, block, sizes
    )
    return join_back_dedup(matched, rows, id_col, block)


def exact_levels_linkage(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    block: bool = False,
) -> DataFrame:
    """(id_a, id_b, 1) for equal (non-null) values — a plain hash equi-join
    (reference #8, comparison.py:500-600). ``block=True`` adds the
    ``__block`` column to the join key."""
    bl = ["__block"] if block else []
    a = df_a.select(F.col(id_a), F.col(col_a).cast("string").alias("v"), *bl).where(
        F.col("v").isNotNull()
    )
    b = df_b.select(F.col(id_b), F.col(col_b).cast("string").alias("v"), *bl).where(
        F.col("v").isNotNull()
    )
    return a.join(b, ["v", *bl]).select(id_a, id_b, F.lit(1).alias("level"))


def exact_levels_dedup(
    df: DataFrame, col: str, id_col: str = "id", block: bool = False
) -> DataFrame:
    """(id_a, id_b, 1) for equal values within df, id_a > id_b (reference
    #12, deduplication.py:628-701)."""
    bl = ["__block"] if block else []
    rows = df.select(F.col(id_col), F.col(col).cast("string").alias("v"), *bl).where(
        F.col("v").isNotNull()
    )
    a = rows.select(F.col(id_col).alias("id_a"), "v", *bl)
    b = rows.select(F.col(id_col).alias("id_b"), "v", *bl)
    return (
        a.join(b, ["v", *bl])
        .where(F.col("id_a") > F.col("id_b"))
        .select("id_a", "id_b", F.lit(1).alias("level"))
    )


def assemble_patterns(level_frames: list[DataFrame], k_fuzzy: int, k_exact: int) -> DataFrame:
    """Combine per-variable level frames into (id_a, id_b, pattern_id).

    ``level_frames`` is ordered fuzzy-first (Gamma column order). One union +
    one groupBy — a single shuffle regardless of K, replacing the reference's
    iterated setdiff/intersect kernels (comparison.py:695-725).
    Pairs at the all-zero pattern never appear (they are the complement row).
    """
    st = strides(k_fuzzy, k_exact)
    if len(level_frames) != len(st):
        raise ValueError("level frame count != k_fuzzy + k_exact")
    contribs = [
        f.select("id_a", "id_b", (F.col("level") * F.lit(s)).alias("contrib"))
        for f, s in zip(level_frames, st)
    ]
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    return allc.groupBy("id_a", "id_b").agg(F.sum("contrib").cast("long").alias("pattern_id"))


def pattern_counts(patterns: DataFrame) -> DataFrame:
    """(pattern_id, cnt) — the observed half of the reference's Counts."""
    return patterns.groupBy("pattern_id").agg(F.count(F.lit(1)).alias("cnt"))
