"""High-level API: Comparison / Deduplication / Linkage — the user-facing
surface of the reference (comparison.py:602-748, deduplication.py:716-826,
linkage.py:19-72), Spark-native.

A user of the reference writes::

    comp = Comparison(df_A, df_B, Vars_Fuzzy_A, Vars_Fuzzy_B, ...)
    comp.fit()
    est = Estimation(len(fuzzy), len(exact), comp.Counts); est.fit()
    out = Linkage(df_A, df_B, comp.Indices, est.Ksi).transform(0.85)

Here the same flow is::

    comp = Comparison(df_a, df_b, vars_fuzzy_a, vars_fuzzy_b, ...)
    comp.fit()                      # lazy plan; materializes pattern edges
    est = Estimation(...,(comp.counts())).fit()
    out = Linkage(df_a, df_b, comp, est.ksi).transform(0.85)

with pandas inputs replaced by Spark DataFrames and the pattern index sets
replaced by one (id_a, id_b, pattern_id) DataFrame.

Comparison and Deduplication share ONE engine (fit, sparse path,
materialization, counts, matched_pairs); they differ only in the pair
universe, a small object (``_Rectangle``: A x B; ``_Triangle``: the strict
lower triangle of one table) supplying value parts and join-back, exact
levels, exact-value CUBE counts, the complement total and the pair-space
size. The analytic-singles engine and blocking are rectangle-only.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .estimation import Estimation
from .operators.agreement import (
    assemble_patterns,
    exact_levels_dedup,
    exact_levels_linkage,
    fuzzy_value_parts_dedup,
    fuzzy_value_parts_linkage,
    join_back_dedup,
    join_back_linkage,
    pattern_counts,
)
from .patterns import counts_with_complement, n_patterns, strides

__all__ = ["Comparison", "Deduplication", "Linkage", "Estimation"]

_ROW_ID = "__row_id"


def _with_row_id(df: DataFrame, order_col: str | None) -> tuple[DataFrame, int | None]:
    """(frame with a stable long row id, total row count or None).

    The count is known FOR FREE on the positional path (the offset scan
    sums partition sizes) and None on the natural-key path — callers use it
    to gate the packed-pair-key optimization, whose encoding is only sound
    for ids < 2^31. Stable long row id rules: if the table has a natural unique long key, pass it
    as order_col (the scale path — zero extra work). Otherwise positional ids
    (partition-major, row order within partition — the same ids zipWithIndex
    assigns, which reproduce the reference's pandas positional index,
    comparison.py:626, for any source with a stable partition order) are
    assigned ENTIRELY JVM-side:

    - ``monotonically_increasing_id()`` encodes (partition index << 33) |
      (row position within partition); a localCheckpoint (lazy — the sizes
      job right after is its materializing action) freezes those values so
      every downstream action sees the same ids;
    - one driver-sized count job reads per-partition sizes off the frozen
      frame (grouping by the id's partition bits, so the result is
      consistent even if the checkpoint read repartitions);
    - a broadcast join adds each partition's cumulative offset.

    No Python stage anywhere: the previous zipWithIndex implementation
    serialized every row JVM->Python->JVM once per Comparison/Deduplication
    — the single remaining non-kernel Python pass on the reference-workload
    path (measured: see PERF.md round 4)."""
    if order_col is not None:
        return df.withColumn(_ROW_ID, F.col(order_col).cast("long")), None
    spark = df.sparkSession
    # LAZY checkpoint: the sizes collect right below is the first action, so
    # the checkpoint blocks are written during its scan — one pass over the
    # input instead of eager's materialize-then-rescan. (The AQE lazy-
    # checkpoint double-pass pathology, see _fit_sparse, concerns frames
    # with SHUFFLE stages; whatever upstream shuffles the input carries run
    # exactly once either way, and the id-bearing scan itself is not
    # repeated.) Ids freeze at that first materialization and every later
    # consumer reads the same frozen blocks.
    mid = df.withColumn("__mid", F.monotonically_increasing_id()).localCheckpoint(eager=False)
    part_of = F.shiftrightunsigned(F.col("__mid"), 33)
    sizes = mid.groupBy(part_of.alias("__pid")).agg(F.count(F.lit(1)).alias("__n")).collect()
    offsets, acc = [], 0
    for r in sorted(sizes, key=lambda r: r["__pid"]):
        offsets.append((int(r["__pid"]), acc))
        acc += int(r["__n"])
    # driver-sized (one row per partition), built from LITERALS: a
    # createDataFrame(list) here plans as a Python RDD whose single-task
    # materialization job measured ~6 s — pure scheduling/worker overhead
    # on every Comparison. An exploded literal array is JVM-only and free.
    # (Falls back to createDataFrame past 20k partitions, where a literal
    # expression tree would bloat the plan.)
    if offsets and len(offsets) <= 20_000:
        off_df = spark.range(1).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(p).cast("long").alias("__pid"),
                            F.lit(off).cast("long").alias("__off"),
                        )
                        for p, off in offsets
                    ]
                )
            ).alias("po")
        ).select("po.__pid", "po.__off")
    else:
        off_df = (
            spark.createDataFrame(offsets or [], "__pid long, __off long")
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    out = (
        mid.withColumn("__pid", part_of)
        .join(F.broadcast(off_df), "__pid")
        .withColumn(
            _ROW_ID,
            F.col("__off") + F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)),
        )
        .drop("__pid", "__off", "__mid")
    )
    return out, acc


# the packed (id_a << 32 | id_b) key only has 32 bits per side; positional
# ids are bounded by the row count, so packing is gated on BOTH counts
# being known and under this limit (natural keys: unknown -> never packed)
_PACK_MAX_ID = 1 << 31


def _pack_ok(*totals: int | None) -> bool:
    return all(t is not None and t < _PACK_MAX_ID for t in totals)


def _single_long_bits(n_a, n_b, st, k_fuzzy: int, k_exact: int):
    """Bit layouts for the single-long encodings, or None when they don't
    fit in 63 bits (sign bit stays 0 so longs compare/shift safely).

    Returns ((bits_a, bits_b, bits_contrib), (bits_a, bits_b, bits_pid)):
    the first layout packs one (pair, per-variable contribution) edge of
    the assembly shuffle; the second packs a finished (id_a, id_b,
    pattern_id) row for the parquet spill. Positional ids are bounded by
    the row counts (0..n-1); the max per-edge contribution is level 2 on
    the largest-stride fuzzy variable; the max pattern id is
    n_patterns - 1."""
    if n_a is None or n_b is None or k_fuzzy < 1:
        return None
    ba = max(1, (int(n_a) - 1).bit_length())
    bb = max(1, (int(n_b) - 1).bit_length())
    bc = max(1, (2 * st[0]).bit_length())
    bp = max(1, (n_patterns(k_fuzzy, k_exact) - 1).bit_length())
    if ba + bb + max(bc, bp) > 63:
        return None
    return ((ba, bb, bc), (ba, bb, bp))


def _batched_distinct_counts(df: DataFrame, cols: list[str]) -> list[int]:
    """Every column's distinct non-null count in ONE aggregation job."""
    row = df.agg(
        *[
            F.count_distinct(F.col(c).cast("string")).alias(f"c{i}")
            for i, c in enumerate(cols)
        ]
    ).collect()[0]
    return [int(row[f"c{i}"]) for i in range(len(cols))]



# implied |A| x |B| pair space above which the materialized pattern frame is
# spilled to parquet instead of the in-memory columnar cache (see
# _materialize_pairs)
_SPILL_PAIR_SPACE = 100_000_000
# transform()'s ksi lookup frame: literal-expression form up to this many
# admitted patterns (JVM-only, no Python-RDD job); past it, the driver plan
# would bloat with millions of expression nodes, so fall back to
# createDataFrame (same rationale as _with_row_id's offsets frame).
_KSI_LITERAL_MAX = 20_000
_spill_dirs: list[str] = []


def _cleanup_spill_dirs() -> None:
    for d in _spill_dirs:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_spill_dirs)


def _materialize_pairs(
    df: DataFrame, big: bool, pack_bits: tuple[int, int, int] | None = None
) -> DataFrame:
    """Materialize a pattern/pair frame once for its two consumers
    (counts()'s histogram and transform()'s admitted-pair filter).

    Small frames take the in-memory columnar cache. Big frames are written
    to parquet and re-read: the columnar cache BUILD is row-at-a-time
    (measured ~1,200 core-seconds for the 125M-row sparse frame of the
    100k x 100k reference workload — the single most expensive operator in
    the whole job), while the vectorized parquet writer materializes the
    same frame in a few seconds and reads back vectorized+compressed.

    ``pack_bits`` = (bits_a, bits_b, bits_pid), passed when the caller has
    PROVEN id_a < 2^bits_a, id_b < 2^bits_b, pattern_id < 2^bits_pid and
    the sum is <= 63: the big-frame spill then writes ONE packed long
    column instead of three longs (~3x fewer parquet column bytes to
    encode/compress and decode on every downstream read) and re-derives
    the columns with codegen bit ops after the scan. counts()'s histogram
    only consumes pattern_id, so column pruning keeps its post-spill scan
    to the packed column with no id unpacking at all.

    Spill location: ``spark.fast_er.spillDir`` if set (POINT THIS AT SHARED
    STORAGE — HDFS/S3 — on a real cluster: executors write the files
    directly); default is a driver-local temp dir, which is correct in
    local mode, and is removed at interpreter exit."""
    if not big:
        return df.persist()
    spark = df.sparkSession
    try:
        base = spark.conf.get("spark.fast_er.spillDir")
    except Exception:
        base = None
    if base:
        path = base.rstrip("/") + "/pairs_" + uuid.uuid4().hex
    else:
        path = tempfile.mkdtemp(prefix="fast_er_pairs_")
        _spill_dirs.append(path)
    if pack_bits is not None and df.columns == ["id_a", "id_b", "pattern_id"]:
        ba, bb, bp = pack_bits
        if ba + bb + bp <= 63:
            packed = df.select(
                F.shiftleft(F.col("id_a"), bb + bp)
                .bitwiseOR(F.shiftleft(F.col("id_b"), bp))
                .bitwiseOR(F.col("pattern_id"))
                .alias("__pk")
            )
            packed.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path).select(
                F.shiftrightunsigned(F.col("__pk"), bb + bp).alias("id_a"),
                F.shiftrightunsigned(F.col("__pk"), bp)
                .bitwiseAND(F.lit((1 << bb) - 1))
                .alias("id_b"),
                F.col("__pk").bitwiseAND(F.lit((1 << bp) - 1)).alias("pattern_id"),
            )
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda x, y: x.unionByName(y), frames)


def _sparse_fuzzy_union(
    fuzzy_frames,
    st,
    k_fuzzy: int,
    pack: bool,
    prepartition: bool = False,
    pack_bits: tuple[int, int, int] | None = None,
    multi_only: bool = False,
) -> DataFrame:
    """union + groupBy of per-variable level frames -> (id_a, id_b, __fz).

    The union is the engine's dominant shuffle (~1.26e8 level-edge rows at
    100k x 100k). ``pack_bits`` = (bits_a, bits_b, bits_contrib), passed
    when the caller has proven id_a < 2^bits_a, id_b < 2^bits_b, every
    per-row contribution < 2^bits_contrib, and the sum <= 63: the shuffle
    then carries ONE long per edge — (id_a << (bb+bc)) | (id_b << bc) |
    contrib — an 8-byte UnsafeRow field where the (key long, contrib int)
    pair costs 16 (both plus the 8-byte row header). The groupBy keys on
    shiftrightunsigned(__e, bc), which canonicalizes equal to the
    repartition expression, so prepartition still produces exactly one
    exchange with partial+final aggregation both post-shuffle (verified in
    the plan). Contributions of a pair's edges occupy disjoint stride
    slots (one variable each; duplicate same-variable edges impossible),
    so summing the masked low bits reassembles the fuzzy pattern exactly
    as the unpacked path does. Fallback ``pack=True`` (ids < 2^31 but the
    single-long layout doesn't fit) keeps the two-field packed key.

    ``multi_only=True`` (the analytic-singles engine): also count each
    pair's edges and keep only pairs with >= 2 agreeing fuzzy variables
    (duplicate same-variable edges are impossible, so the edge count IS
    the agreeing-variable count). ~95% of pairs at realistic value
    distributions agree on exactly one variable; dropping them here means
    the exact-attachment joins, the pattern spill, and the histogram scan
    all run on the small multi frame only, while the single-agreement
    histogram is computed analytically at the value level
    (Comparison._fuzzy_joint_counts) with no pair materialization at all."""
    if pack_bits is not None:
        ba, bb, bc = pack_bits
        contribs = [
            f.select(
                F.shiftleft(F.col("id_a"), bb + bc)
                .bitwiseOR(F.shiftleft(F.col("id_b"), bc))
                .bitwiseOR((F.col("level") * F.lit(s)).cast("long"))
                .alias("__e")
            )
            for f, s in zip(fuzzy_frames, st[:k_fuzzy])
        ]
    elif pack:
        key = F.shiftleft(F.col("id_a"), 32).bitwiseOR(F.col("id_b"))
        contribs = [
            f.select(
                key.alias("__k"),
                (F.col("level") * F.lit(s)).cast("int").alias("contrib"),
            )
            for f, s in zip(fuzzy_frames, st[:k_fuzzy])
        ]
    else:
        contribs = [
            f.select("id_a", "id_b", (F.col("level") * F.lit(s)).alias("contrib"))
            for f, s in zip(fuzzy_frames, st[:k_fuzzy])
        ]
    u = _union(contribs)
    # explicit hash repartition on the agg key BEFORE the groupBy: the
    # partial aggregate then runs AFTER the exchange on co-located data
    # instead of inside the (CPU-bound, 232-task) JW stage, where it hashed
    # every edge for a ~0.5% reduction — pairs agreeing on 2+ fuzzy
    # variables are rare, so map-side combine buys nothing while costing a
    # hash-map insert per edge row (A/B'd both ways at 100k x 100k,
    # PERF.md round 5; the exchange volume is identical either way).
    # ``prepartition`` is passed by callers for BIG pair spaces only: a
    # numbered repartition pins the session partition count onto what may
    # be a tiny edge set, and small fits pay pure scheduling overhead for
    # it (fs_pattern_counts +80% at sf0.1 before the gate — the round-1
    # small-input lesson again). FAST_ER_PREPARTITION=0 force-disables.
    if prepartition and os.environ.get("FAST_ER_PREPARTITION", "1") != "0":
        # exactly the session partition count: over-partitioning this
        # exchange (16x, PERF.md round 5) measured 4-7 s SLOWER end to end
        # at 100k x 100k — more reduce buckets inflate the map-side shuffle
        # write of the CPU-bound JW stage and fragment the spill parquet
        sp = min(int(u.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")), 4096)
        if pack_bits is not None:
            u = u.repartition(sp, F.shiftrightunsigned(F.col("__e"), pack_bits[2]))
        else:
            u = u.repartition(sp, *(["__k"] if pack else ["id_a", "id_b"]))
    multi = [F.count(F.lit(1)).alias("__n")] if multi_only else []
    if pack_bits is not None:
        ba, bb, bc = pack_bits
        g = u.groupBy(F.shiftrightunsigned(F.col("__e"), bc).alias("__k")).agg(
            F.sum(F.col("__e").bitwiseAND(F.lit((1 << bc) - 1))).alias("__fz"),
            *multi,
        )
        ids = (
            F.shiftrightunsigned(F.col("__k"), bb).alias("id_a"),
            F.col("__k").bitwiseAND(F.lit((1 << bb) - 1)).alias("id_b"),
        )
    elif pack:
        g = u.groupBy("__k").agg(F.sum("contrib").cast("long").alias("__fz"), *multi)
        ids = (
            F.shiftrightunsigned(F.col("__k"), 32).cast("long").alias("id_a"),
            F.col("__k").bitwiseAND(F.lit((1 << 32) - 1)).cast("long").alias("id_b"),
        )
    else:
        g = u.groupBy("id_a", "id_b").agg(F.sum("contrib").cast("long").alias("__fz"), *multi)
        ids = ("id_a", "id_b")
    if multi_only:
        g = g.where(F.col("__n") >= 2)
    return g.select(*ids, "__fz")


def _moebius(at_least: dict[int, int], k: int) -> dict[int, int]:
    """Moebius inversion over exact-variable subsets: {e: pairs agreeing on
    EXACTLY subset e} from {t: pairs agreeing on AT LEAST subset t} (a
    missing t counts 0), by inclusion-exclusion over the supersets of e.
    Subset masks follow the pattern-id convention — exact variable j <->
    bit (k-1-j) — so a mask IS the exact part of a pattern id."""
    return {
        e: sum(
            (-1) ** bin(t ^ e).count("1") * n  # t ^ e = the extra variables
            for t, n in at_least.items()
            if (t & e) == e  # t is a superset of e
        )
        for e in range(1 << k)
    }


def _side_cube(df: DataFrame, head: list[str], exact: list[str], sfx: str = "") -> DataFrame:
    """One side's value histogram over every exact-variable subset in ONE
    CUBE pass (2^k combination rows per input row, partial-aggregated
    map-side): rows (__h<i>, __v<j>, __n, __gid), every name suffixed by
    ``sfx`` — suffixes, not DataFrame-attribute references, because
    self-linkage passes the same frame as both sides, where attribute-id
    disambiguation of identical plans is unreliable. ``head`` columns are
    grouped (non-null) in every row; __v<j> is exact variable j's value,
    NULL where aggregated out, and a real NULL inside the subset drops the
    group (null never agrees). grouping_id bit order puts the first cube
    column most significant, so v_j <-> bit k-1-j: the complemented gid is
    the subset mask in the pattern-id convention."""
    k = len(exact)
    hs = [f"__h{i}{sfx}" for i in range(len(head))]
    vs = [f"__v{j}{sfx}" for j in range(k)]
    gid = F.col(f"__gid{sfx}")
    f = df.select(
        *[F.col(c).cast("string").alias(h) for c, h in zip(head, hs)],
        *[F.col(c).cast("string").alias(v) for c, v in zip(exact, vs)],
    )
    for h in hs:
        f = f.where(F.col(h).isNotNull())
    g = f.cube(*hs, *vs).agg(
        F.count(F.lit(1)).alias(f"__n{sfx}"), F.grouping_id().alias(f"__gid{sfx}")
    )
    if hs:
        # keep only combinations where no head column is aggregated out
        g = g.where(gid < F.lit(1 << k))
    for j, v in enumerate(vs):
        in_subset = F.shiftright(gid, k - 1 - j).bitwiseAND(F.lit(1)) == 0
        g = g.where(~in_subset | F.col(v).isNotNull())
    return g


def _cubes_agree(heads: list[str], k: int) -> Column:
    """Join condition between an "a" and a "b" ``_side_cube``: same subset
    and equal grouped values, null-safe (aggregated-out columns are NULL on
    both sides)."""
    cond = F.col("__gida") == F.col("__gidb")
    for c in heads + [f"__v{j}" for j in range(k)]:
        cond = cond & F.col(c + "a").eqNullSafe(F.col(c + "b"))
    return cond


def _histogram(pairs: DataFrame) -> dict[int, int]:
    """{pattern_id: pair count} of a pattern frame, in one collect."""
    return {
        int(r["pattern_id"]): int(r["cnt"]) for r in pattern_counts(pairs).collect()
    }


class _Rectangle:
    """The A x B pair universe (Comparison): every (a, b) row pair, or only
    the same-block pairs when blocking columns are given (the reference's
    "Blocking", usage.rst)."""

    def __init__(self, df_a, df_b, fuzzy_a, fuzzy_b, exact_a, exact_b,
                 id_a, id_b, blocking_a, blocking_b):
        self.df_a, self.n_a = _with_row_id(df_a, id_a)
        self.df_b, self.n_b = _with_row_id(df_b, id_b)
        self.blk = blocking_a is not None
        if self.blk:
            self.df_a = self.df_a.withColumn("__block", F.col(blocking_a).cast("string"))
            self.df_b = self.df_b.withColumn("__block", F.col(blocking_b).cast("string"))
        self.positional = id_a is None and id_b is None
        # blocked comparisons always use the classic engine (the value-level
        # collapse would need per-block value histograms)
        self.analytic_ok = not self.blk
        self.fuzzy_a, self.fuzzy_b = fuzzy_a, fuzzy_b
        self.exact_a, self.exact_b = exact_a, exact_b
        bl = ["__block"] if self.blk else []
        self.a = self.df_a.select(F.col(_ROW_ID).alias("id_a"), *fuzzy_a, *exact_a, *bl)
        self.b = self.df_b.select(F.col(_ROW_ID).alias("id_b"), *fuzzy_b, *exact_b, *bl)

    def id_bounds(self) -> tuple[int, int] | None:
        """Exclusive bounds on id_a / id_b (positional ids only)."""
        return (self.n_a, self.n_b) if self.positional else None

    def pair_space(self) -> int:
        """|A| * |B|. Positional row counts are free; the natural-key path
        pays the two count jobs ONCE, overlapped, and BACKFILLS n_a/n_b so
        the complement reuses them (four serial count jobs measured +0.25 s
        per fit at bench scale). Safe to backfill: the packed-key gates
        additionally require positional ids (id_bounds), so a row COUNT can
        never be mistaken for an id BOUND."""
        if self.n_a is None or self.n_b is None:
            with ThreadPoolExecutor(2) as ex:
                fa = ex.submit(self.df_a.count) if self.n_a is None else None
                fb = ex.submit(self.df_b.count) if self.n_b is None else None
                if fa is not None:
                    self.n_a = fa.result()
                if fb is not None:
                    self.n_b = fb.result()
        return self.n_a * self.n_b

    def distinct_sizes(self) -> list[tuple[int, int]]:
        # the A- and B-side count jobs are independent: submit them from
        # two threads so the scheduler overlaps them on idle cores (wall
        # ~= max of the two instead of their sum)
        with ThreadPoolExecutor(2) as ex:
            fa = ex.submit(_batched_distinct_counts, self.a, self.fuzzy_a)
            fb = ex.submit(_batched_distinct_counts, self.b, self.fuzzy_b)
            return list(zip(fa.result(), fb.result()))

    def fuzzy_parts(self, i, p, lower, upper, candidates, sizes):
        return fuzzy_value_parts_linkage(
            self.a, self.b, self.fuzzy_a[i], self.fuzzy_b[i], "id_a", "id_b",
            p, lower, upper, candidates, block=self.blk, sizes=sizes,
        )

    def join_back(self, matched, rows_a, rows_b) -> DataFrame:
        return join_back_linkage(matched, rows_a, rows_b, "id_a", "id_b", self.blk)

    def exact_levels(self, j: int) -> DataFrame:
        return exact_levels_linkage(
            self.a, self.b, self.exact_a[j], self.exact_b[j], "id_a", "id_b",
            block=self.blk,
        )

    def exact_cube_counts(self) -> dict[int, int]:
        """{grouping id of exact subset S: N>=(S)}, N>=(S) = sum over joint
        non-null values of cntA*cntB (pairs agreeing on at least S). ONE
        Spark job: the two side cubes join null-safe per subset and one
        collect returns every N>=(S). Blocked comparisons add the block key
        to the joint grouping (pairs only exist within a block)."""
        bl = ["__block"] if self.blk else []
        ga = _side_cube(self.a, bl, self.exact_a, "a")
        gb = _side_cube(self.b, bl, self.exact_b, "b")
        joint = (
            ga.join(gb, _cubes_agree(["__h0"] if self.blk else [], len(self.exact_a)))
            .groupBy("__gida")
            .agg(F.sum(F.col("__na") * F.col("__nb")).alias("t"))
            .collect()
        )
        return {int(r["__gida"]): int(r["t"]) for r in joint}

    def complement(self, observed: dict[int, int], k_fuzzy: int, k_exact: int) -> np.ndarray:
        if not self.blk:
            # positional row ids ship the totals for free; natural keys pay
            # the two count jobs once (pair_space backfills them)
            self.pair_space()
            return counts_with_complement(observed, k_fuzzy, k_exact, self.n_a, self.n_b)
        # Blocked pair universe: sum over blocks |A_b| * |B_b| (the
        # reference's blocking sums per-block Counts, usage.rst), passed as
        # a total x 1 universe
        ca = self.df_a.groupBy("__block").count().withColumnsRenamed({"count": "na"})
        cb = self.df_b.groupBy("__block").count().withColumnsRenamed({"count": "nb"})
        row = ca.join(cb, "__block").select(
            F.sum(F.col("na") * F.col("nb")).alias("t")
        ).collect()[0]
        return counts_with_complement(observed, k_fuzzy, k_exact, int(row["t"] or 0), 1)


class _Triangle:
    """The within-table pair universe (Deduplication): the strict lower
    triangle id_a > id_b of one table, seen as both sides of the pair."""

    # no triangular value-level joint counts yet
    analytic_ok = False

    def __init__(self, df, fuzzy, exact, id_col):
        self.df, self.n = _with_row_id(df, id_col)
        self.positional = id_col is None
        self.fuzzy_a = self.fuzzy_b = fuzzy
        self.exact_a = self.exact_b = exact
        self.a = self.df.select(F.col(_ROW_ID).alias("id_a"), *fuzzy, *exact)
        self.b = self.a.withColumnRenamed("id_a", "id_b")

    def id_bounds(self) -> tuple[int, int] | None:
        return (self.n, self.n) if self.positional else None

    def pair_space(self) -> int:
        if self.n is None:
            # natural-key path: count once and backfill so the complement
            # reuses it (see _Rectangle.pair_space for the safety argument)
            self.n = self.df.count()
        return self.n * (self.n - 1) // 2

    def distinct_sizes(self) -> list[tuple[int, int]]:
        # one aggregation job; the candidate universe is vals x vals
        return [(s, s) for s in _batched_distinct_counts(self.a, self.fuzzy_a)]

    def fuzzy_parts(self, i, p, lower, upper, candidates, sizes):
        return fuzzy_value_parts_dedup(
            self.a, self.fuzzy_a[i], "id_a", p, lower, upper, candidates, sizes=sizes
        )

    def join_back(self, matched, rows) -> DataFrame:
        return join_back_dedup(matched, rows, "id_a")

    def exact_levels(self, j: int) -> DataFrame:
        return exact_levels_dedup(self.a, self.exact_a[j], "id_a")

    def exact_cube_counts(self) -> dict[int, int]:
        """Triangular N>=(S) = sum over joint non-null values of c*(c-1)/2,
        keyed by grouping id as in _Rectangle.exact_cube_counts. ONE Spark
        job: a single CUBE pass aggregates every subset's value histogram,
        a tiny second aggregation by grouping id sums c*(c-1) (exact longs,
        halved driver-side — a double division would lose precision past
        2^53 pairs), one collect."""
        n = F.col("__n")
        rows = (
            _side_cube(self.a, [], self.exact_a)
            .groupBy("__gid")
            .agg(F.coalesce(F.sum(n * (n - F.lit(1))), F.lit(0)).alias("t"))
            .collect()
        )
        return {int(r["__gid"]): int(r["t"]) // 2 for r in rows}

    def complement(self, observed: dict[int, int], k_fuzzy: int, k_exact: int) -> np.ndarray:
        # the complement row includes the diagonal (deduplication.py:825)
        self.pair_space()
        return counts_with_complement(observed, k_fuzzy, k_exact, self.n, None)


class Comparison:
    """A x B agreement patterns (reference Comparison, comparison.py:602)."""

    def __init__(
        self,
        df_a: DataFrame,
        df_b: DataFrame,
        vars_fuzzy_a: list[str],
        vars_fuzzy_b: list[str],
        vars_exact_a: list[str] | None = None,
        vars_exact_b: list[str] | None = None,
        id_a: str | None = None,
        id_b: str | None = None,
        blocking_a: str | None = None,
        blocking_b: str | None = None,
    ):
        vars_exact_a = vars_exact_a or []
        vars_exact_b = vars_exact_b or []
        if (blocking_a is None) != (blocking_b is None):
            raise ValueError("blocking needs a column on both sides")
        if len(vars_fuzzy_a) != len(vars_fuzzy_b) or len(vars_exact_a) != len(vars_exact_b):
            raise ValueError("variable lists for A and B must have equal length")
        for c in vars_fuzzy_a + vars_exact_a:
            if c not in df_a.columns:
                raise ValueError(f"column {c} not in df_a")
        for c in vars_fuzzy_b + vars_exact_b:
            if c not in df_b.columns:
                raise ValueError(f"column {c} not in df_b")
        self.id_a, self.id_b = id_a, id_b
        self.blocking_a, self.blocking_b = blocking_a, blocking_b
        self.vars_fuzzy_a, self.vars_fuzzy_b = vars_fuzzy_a, vars_fuzzy_b
        self.vars_exact_a, self.vars_exact_b = vars_exact_a, vars_exact_b
        self._start(_Rectangle(
            df_a, df_b, vars_fuzzy_a, vars_fuzzy_b, vars_exact_a, vars_exact_b,
            id_a, id_b, blocking_a, blocking_b,
        ))
        self.df_a, self.df_b = self._u.df_a, self._u.df_b

    def _start(self, universe) -> None:
        """Engine state over the given pair universe (_Rectangle/_Triangle)."""
        self._u = universe
        self.k_fuzzy = len(universe.fuzzy_a)
        self.k_exact = len(universe.exact_a)
        self.patterns: DataFrame | None = None
        self._counts: np.ndarray | None = None
        self._sparse: DataFrame | None = None
        self._sparse_materialized = False
        self._pack_bits = None
        self._big_cached: bool | None = None
        # analytic-singles engine state (see _analytic/_fit_sparse)
        self._parts: list[tuple[DataFrame, ...]] | None = None
        self._multi: DataFrame | None = None
        self._multi_materialized = False

    def _analytic(self) -> bool:
        """Analytic-singles counts engine gate. 'auto' (default): on for
        BIG pair spaces, where single-agreement pairs dominate the
        assembly shuffle and their analytical treatment removes the
        materialized pattern frame entirely; small fits keep the one
        union+groupBy plan (the extra value-cube jobs would cost more
        scheduling than they save). '1'/'force' = always (parity tests),
        '0' = never. Rectangle-only (see _Rectangle.analytic_ok and
        _Triangle.analytic_ok)."""
        mode = os.environ.get("FAST_ER_ANALYTIC_SINGLES", "auto")
        if mode == "0" or not self._u.analytic_ok or self.k_fuzzy < 1:
            return False
        if mode in ("1", "force"):
            return True
        return self._big()

    def _big(self) -> bool:
        """Pair space >= _SPILL_PAIR_SPACE -> parquet spill + pre-partitioned
        assembly. Cached: the natural-key path pays its row counts once."""
        if self._big_cached is None:
            self._big_cached = self._u.pair_space() >= _SPILL_PAIR_SPACE
        return self._big_cached

    def fit(
        self,
        p: float = 0.1,
        lower_thr: float = 0.88,
        upper_thr: float = 0.94,
        candidates=None,
        exact_sparse: bool = True,
    ) -> "Comparison":
        """``exact_sparse`` (default): materialize per-pair patterns ONLY for
        pairs with at least one fuzzy agreement; exact-variable agreement is
        attached to those pairs by per-pair lookup, and pairs agreeing only
        on exact variables are counted ANALYTICALLY (inclusion-exclusion
        over value frequencies, see counts()). Low-cardinality exact
        variables (birth_year: 66 values) otherwise dominate everything:
        at 100k x 100k they alone contribute ~1.5e8 materialized pair rows
        (~65% of the union+groupBy shuffle) whose posteriors are ~0 anyway.
        Set False (or use blocking) for the dense reference-shaped path."""
        if self.patterns is not None:
            raise RuntimeError("already fitted")
        u = self._u
        # ALL variables' distinct-value counts in ONE aggregation job per
        # side (2 jobs total): default_value_candidates otherwise runs two
        # count jobs per fuzzy variable just to pick cross-vs-LSH and size
        # the JW stage (~5 s of driver-side latency at 4 variables)
        sizes = u.distinct_sizes() if self.k_fuzzy and candidates is None else None
        sparse_path = exact_sparse and self.k_fuzzy >= 1 and 1 <= self.k_exact <= 8
        analytic = sparse_path and self._analytic()
        fuzzy_frames, parts = [], []
        for i in range(self.k_fuzzy):
            part = u.fuzzy_parts(
                i, p, lower_thr, upper_thr, candidates, sizes[i] if sizes else None
            )
            if analytic:
                # the value-pair frame feeds BOTH the assembly join-back
                # and the analytic joint-counts job, which run concurrently
                # in counts(): persist so the JW scoring runs once (the
                # frame is distinct value pairs — orders of magnitude
                # smaller than the pair frame it implies)
                part = (part[0].persist(), *part[1:])
            parts.append(part)
            fuzzy_frames.append(u.join_back(*part))
        self._parts = parts if analytic else None
        # sparse-engine guard: the analytical exact counts CUBE expands 2^k
        # combination rows per input row — past ~8 exact variables the dense
        # path's single union+groupBy is the better plan
        if sparse_path:
            self._fit_sparse(fuzzy_frames)
            return self
        frames = fuzzy_frames + [u.exact_levels(j) for j in range(self.k_exact)]
        # materialize on first action: counts() and Linkage.transform both
        # consume patterns, and without a shared materialization the whole
        # JW/join DAG re-executes per consumer (measured ~2x wall on the
        # reference 100k x 100k workload). Big frames spill to parquet
        # (eagerly — the write IS the one execution); small ones persist().
        self.patterns = _materialize_pairs(
            assemble_patterns(frames, self.k_fuzzy, self.k_exact), self._big()
        )
        return self

    # ------------------------------------------------- sparse-exact engine
    def _fit_sparse(self, fuzzy_frames) -> None:
        st = strides(self.k_fuzzy, self.k_exact)
        bounds = self._u.id_bounds()
        pack = bounds is not None and _pack_ok(*bounds)
        self._pack_bits = (
            _single_long_bits(*bounds, st, self.k_fuzzy, self.k_exact) if pack else None
        )

        def union(multi_only: bool = False) -> DataFrame:
            return self._attach_exact(
                _sparse_fuzzy_union(
                    fuzzy_frames, st, self.k_fuzzy, pack,
                    prepartition=self._big(),
                    pack_bits=self._pack_bits and self._pack_bits[0],
                    multi_only=multi_only,
                ),
                st,
            )

        sparse = union()
        if self._parts is not None:
            # analytic-singles engine: the multi-agreement frame (>= 2 fuzzy
            # agreements) is the ONLY pair frame counts()/transform()
            # materialize; single-agreement patterns are counted at the
            # value level and regenerated per-pattern on demand
            self._multi = union(multi_only=True)
        # stays LAZY here; the first consumer (_ensure_sparse) materializes
        # it ONCE — parquet spill for big pair spaces, persist() for small
        # (NOT localCheckpoint: under AQE even a lazy localCheckpoint
        # materializes every shuffle stage at call time and pays a second
        # pass writing checkpoint blocks — measured 42 s at 100k x 100k).
        self._sparse = sparse
        # full reference surface: sparse pairs + lazily-derived exact-only
        # pairs. Heavy only if somebody materializes ALL patterns — counts()
        # and transform() never do.
        self.patterns = self._sparse.unionByName(self._exact_only_patterns())

    def _attach_exact(self, frame: DataFrame, st) -> DataFrame:
        """exact agreement is a per-pair LOOKUP on the (small-per-pair)
        pair frame — two equi-joins per exact variable against the
        id->value projections, never a pair-materializing self-join."""
        u = self._u
        exact_expr = F.lit(0).cast("long")
        for idx, (ca, cb) in enumerate(zip(u.exact_a, u.exact_b)):
            s = st[self.k_fuzzy + idx]
            va = u.a.select("id_a", F.col(ca).cast("string").alias(f"__ea{idx}"))
            vb = u.b.select("id_b", F.col(cb).cast("string").alias(f"__eb{idx}"))
            frame = frame.join(va, "id_a").join(vb, "id_b")
            exact_expr = exact_expr + F.when(
                F.col(f"__ea{idx}") == F.col(f"__eb{idx}"), F.lit(s).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return frame.select(
            "id_a", "id_b", (F.col("__fz") + exact_expr).alias("pattern_id")
        )

    def _ensure_sparse(self) -> DataFrame:
        """Materialize the sparse pattern frame on first consumption and
        rebuild self.patterns on top of the materialized frame."""
        if not self._sparse_materialized:
            self._sparse = _materialize_pairs(
                self._sparse, self._big(),
                pack_bits=self._pack_bits and self._pack_bits[1],
            )
            self._sparse_materialized = True
            self.patterns = self._sparse.unionByName(self._exact_only_patterns())
        return self._sparse

    def _ensure_multi(self) -> DataFrame:
        """Materialize the multi-agreement (>= 2 fuzzy) pair frame on first
        consumption — the analytic-singles engine's ONLY materialized pair
        frame (orders of magnitude smaller than the full sparse frame).

        Always persist() (MEMORY_AND_DISK), never the parquet spill the
        full-frame engine uses: the multi frame is O(pairs with >= 2 fuzzy
        agreements), far below the pair-space threshold _big() keys on, and
        the persist path lets the histogram collect double as the
        materializing action — one job instead of write-parquet plus a
        read-back job (each extra job costs ~1-2 s of driver gap on the
        100k workload's critical path; PERF.md round 5)."""
        if not self._multi_materialized:
            self._multi = self._multi.persist()
            self._multi_materialized = True
        return self._multi

    def _fuzzy_joint_counts(self) -> dict[tuple[int, int, int], int]:
        """{(var_idx, level, exact_pattern): N} where N counts ALL pairs
        with fuzzy variable var_idx at exactly `level`, exact agreement
        vector exactly `exact_pattern`, and ANY levels on the other fuzzy
        variables — computed WITHOUT pair materialization.

        The multiplicity collapse: a scored value pair (va, vb, level)
        implies nA(va, x) * nB(vb, x) row pairs per joint exact-value
        combination x, so each side aggregates one CUBE over
        (fuzzy value x exact-variable subsets) — the same single-job CUBE
        trick as the exact joint counts with the fuzzy value as a mandatory
        grouping column — and the two cubes join THROUGH the value-pair
        frame. Moebius inversion over exact subsets then yields exact
        patterns. One Spark job for all fuzzy variables (union + collect)."""
        u = self._u
        k = self.k_exact
        frames = []
        for i in range(self.k_fuzzy):
            matched = self._parts[i][0]
            ga = _side_cube(u.a, [u.fuzzy_a[i]], u.exact_a, "a")
            gb = _side_cube(u.b, [u.fuzzy_b[i]], u.exact_b, "b")
            j1 = matched.join(ga, F.col("val_a") == F.col("__h0a"))
            j2 = j1.join(gb, (F.col("val_b") == F.col("__h0b")) & _cubes_agree([], k))
            t = F.sum(F.col("__na").cast("long") * F.col("__nb").cast("long"))
            frames.append(
                j2.groupBy(F.col("level"), F.col("__gida"))
                .agg(t.alias("t"))
                .select(F.lit(i).alias("var"), "level", F.col("__gida").alias("gid"), "t")
            )
        full = (1 << k) - 1
        n_ge: dict[tuple[int, int], dict[int, int]] = {}
        for r in _union(frames).collect():
            # gid == full (all v_j aggregated out) is the S = {} row: total
            # pairs at (var, level) regardless of exacts
            key = (int(r["var"]), int(r["level"]))
            n_ge.setdefault(key, {})[full ^ int(r["gid"])] = int(r["t"])
        return {
            (i, lvl, e): c
            for (i, lvl), ge in n_ge.items()
            for e, c in _moebius(ge, k).items()
            if c
        }

    def _single_pairs_batch(self, pids: list[int]) -> DataFrame:
        """(id_a, id_b, pattern_id) for admitted SINGLE-fuzzy-agreement
        patterns, regenerated on demand: each variable's join-back filtered
        to the needed levels, minus the multi frame (any pair with a second
        fuzzy agreement is in it by construction), filtered to the admitted
        exact parts. Posteriors of single-agreement patterns are ~0 in
        practice, so this path is rarely exercised — but it makes
        matched_pairs()/transform() exact under the analytic engine. All
        patterns of one variable share ONE join-back (a variable's edge
        frame is the expensive part, not the per-pattern filter)."""
        st = strides(self.k_fuzzy, self.k_exact)
        by_var: dict[int, list[tuple[int, int]]] = {}
        for pid in pids:
            levels = [(pid // st[i]) % 3 for i in range(self.k_fuzzy)]
            nz = [i for i, l in enumerate(levels) if l]
            assert len(nz) == 1, pid
            by_var.setdefault(nz[0], []).append((levels[nz[0]], pid))
        multi = self._ensure_multi().select("id_a", "id_b")
        frames = []
        for i, entries in sorted(by_var.items()):
            lvls = sorted({l for l, _ in entries})
            matched, *rows = self._parts[i]
            edges = self._u.join_back(
                matched.where(F.col("level").isin([int(x) for x in lvls])), *rows
            )
            cand = edges.join(multi, ["id_a", "id_b"], "left_anti").select(
                "id_a", "id_b",
                (F.col("level") * F.lit(int(st[i]))).cast("long").alias("__fz"),
            )
            frames.append(
                self._attach_exact(cand, st).where(
                    F.col("pattern_id").isin([int(p) for _, p in entries])
                )
            )
        return _union(frames)

    def _exact_only_patterns(self) -> DataFrame:
        """(id_a, id_b, pattern_id) for pairs agreeing on >=1 exact variable
        and NO fuzzy variable — the heavy frame the sparse path avoids
        materializing; built on demand (API parity / admitted exact-only
        patterns)."""
        st = strides(self.k_fuzzy, self.k_exact)
        frames = [
            self._u.exact_levels(i).select(
                "id_a", "id_b", (F.col("level") * F.lit(st[self.k_fuzzy + i])).alias("contrib")
            )
            for i in range(self.k_exact)
        ]
        allex = _union(frames).groupBy("id_a", "id_b").agg(
            F.sum("contrib").cast("long").alias("pattern_id")
        )
        return allex.join(
            self._sparse.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        )

    def _exact_joint_counts(self) -> dict[int, int]:
        """Exact-pattern histogram over ALL pairs of the universe, computed
        WITHOUT pair materialization: for every non-empty subset S of exact
        variables, N>=(S) = pairs agreeing on at least S (the universe's
        exact_cube_counts: ONE Spark job, one CUBE pass per side instead of
        2^k - 1 serial scan+collect jobs), then Moebius inversion gives
        pairs agreeing on exactly the subset e."""
        if self.k_exact == 0:
            return {}
        # gid == full (every variable aggregated out) is the empty subset
        full = (1 << self.k_exact) - 1
        cube = self._u.exact_cube_counts()
        exact = _moebius({full ^ g: n for g, n in cube.items() if g != full}, self.k_exact)
        return {e: c for e, c in exact.items() if e}

    def matched_pairs(self, pids: list[int]) -> DataFrame:
        """(id_a, id_b, pattern_id) restricted to the given pattern ids —
        the sparse engine serves fuzzy-bearing patterns from the
        materialized sparse frame and only builds the heavy exact-only frame
        when an exact-only pattern is actually admitted (ksi of a
        no-fuzzy-agreement pattern is ~0 in practice)."""
        pids = [int(x) for x in pids if int(x) != 0]
        if self._sparse is None:
            return self.patterns.where(F.col("pattern_id").isin(pids))
        min_fuzzy = 2**self.k_exact
        fuzzy_pids = [x for x in pids if x >= min_fuzzy]
        exact_pids = [x for x in pids if x < min_fuzzy]
        if self._parts is not None:
            # analytic engine: multi-agreement patterns come from the small
            # materialized multi frame; single-agreement patterns are
            # regenerated per admitted pattern (rare — their posteriors are
            # ~0); the full sparse frame is never executed here
            st = strides(self.k_fuzzy, self.k_exact)

            def n_nonzero(q: int) -> int:
                return sum(1 for i in range(self.k_fuzzy) if (q // st[i]) % 3)

            multi_pids = [x for x in fuzzy_pids if n_nonzero(x) >= 2]
            single_pids = [x for x in fuzzy_pids if n_nonzero(x) == 1]
            out = self._ensure_multi().where(F.col("pattern_id").isin(multi_pids))
            if single_pids:
                out = out.unionByName(self._single_pairs_batch(single_pids))
        else:
            self._ensure_sparse()
            out = self._sparse.where(F.col("pattern_id").isin(fuzzy_pids))
        if exact_pids:
            if self._parts is not None and not self._sparse_materialized:
                # analytic engine: _exact_only_patterns anti-joins the sparse
                # PLAN; materialize it once (spill/persist) here, or the full
                # union+groupBy re-executes inside every consumer of the
                # anti-join — unbounded cost on exactly the big fits the
                # engine defaults on for
                self._ensure_sparse()
            out = out.unionByName(
                self._exact_only_patterns().where(F.col("pattern_id").isin(exact_pids))
            )
        return out

    def counts(self) -> np.ndarray:
        """Full pattern histogram incl. the complement row
        (comparison.py:732-748; the universe supplies the total)."""
        if self.patterns is None:
            raise RuntimeError("fit() first")
        if self._counts is None:
            sparse = self._sparse is not None
            observed = self._sparse_counts() if sparse else _histogram(self.patterns)
            self._counts = self._u.complement(observed, self.k_fuzzy, self.k_exact)
        return self._counts

    def _sparse_counts(self) -> dict[int, int]:
        """Observed histogram of the sparse-exact engine, exact-only
        patterns included."""
        # the exact-value CUBE job reads only the raw a/b frames — it is
        # independent of the sparse materialization, so submit it from a
        # thread and let it run CONCURRENTLY with the (much larger)
        # histogram job instead of serially after it
        if self._parts is not None:
            observed, exact_joint = self._analytic_counts()
        else:
            with ThreadPoolExecutor(1) as ex:
                fut_exact = ex.submit(self._exact_joint_counts)
                observed = _histogram(self._ensure_sparse())
                exact_joint = fut_exact.result()
        # exact-only patterns: analytical count = (pairs whose exact
        # agreement vector is exactly e, any fuzzy) minus (sparse pairs
        # whose exact bits are e) — no pair materialization
        sparse_by_e: dict[int, int] = {}
        for pid, c in observed.items():
            e = pid % (2**self.k_exact)
            sparse_by_e[e] = sparse_by_e.get(e, 0) + c
        for e, total in exact_joint.items():
            observed[e] = total - sparse_by_e.get(e, 0)
        return observed

    def _analytic_counts(self) -> tuple[dict[int, int], dict[int, int]]:
        """(observed fuzzy-bearing histogram, exact joint counts) under the
        analytic-singles engine: the big job shrinks to the multi-agreement
        frame; the single-agreement histogram is reconstructed from the
        value-level joint counts minus the multi frame's marginals (any
        pair with a second fuzzy agreement is in the multi frame, so every
        remaining pair at (var, level) has zeros elsewhere)."""
        st = strides(self.k_fuzzy, self.k_exact)
        # submit the (dominant) multi job FIRST: driver-side plan
        # compilation is effectively serialized across threads, so
        # whatever compiles first starts executing first — the cube
        # jobs then compile while the cluster is already busy
        with ThreadPoolExecutor(3) as ex:
            fut_m = ex.submit(lambda: _histogram(self._ensure_multi()))
            fut_exact = ex.submit(self._exact_joint_counts)
            fut_fuzzy = ex.submit(self._fuzzy_joint_counts)
            m_hist = fut_m.result()
            fuzzy_joint = fut_fuzzy.result()
            exact_joint = fut_exact.result()
        observed = dict(m_hist)
        ek = 1 << self.k_exact
        m_marg: dict[tuple[int, int, int], int] = {}
        for q, c in m_hist.items():
            e = q % ek
            for i in range(self.k_fuzzy):
                lvl = (q // st[i]) % 3
                if lvl:
                    key = (i, lvl, e)
                    m_marg[key] = m_marg.get(key, 0) + c
        for (i, lvl, e), n in fuzzy_joint.items():
            c = n - m_marg.get((i, lvl, e), 0)
            if c < 0:
                # invariant: every multi-frame pair at (var, level,
                # exact) is also in the value-level joint count — a
                # negative remainder means the two engines disagree
                # and the histogram would be silently corrupted
                raise RuntimeError(
                    "analytic-singles invariant violated at "
                    f"(var={i}, level={lvl}, exact={e}): joint {n} < "
                    f"multi marginal {m_marg.get((i, lvl, e), 0)}"
                )
            if c:
                pid = lvl * st[i] + e
                observed[pid] = observed.get(pid, 0) + c
        return observed, exact_joint


class Deduplication(Comparison):
    """Within-table agreement patterns (reference Deduplication,
    deduplication.py:716): the Comparison engine over the strict lower
    triangle of one table. Exact-only pattern counts come from
    sum(c*(c-1)/2) over value frequencies instead of a self-join that
    materializes O(n^2/|values|) rows; the counts complement row includes
    the diagonal (deduplication.py:825)."""

    def __init__(
        self,
        df: DataFrame,
        vars_fuzzy: list[str],
        vars_exact: list[str] | None = None,
        id_col: str | None = None,
    ):
        vars_exact = vars_exact or []
        for c in vars_fuzzy + vars_exact:
            if c not in df.columns:
                raise ValueError(f"column {c} not in df")
        self.id_col = id_col
        self.vars_fuzzy = vars_fuzzy
        self.vars_exact = vars_exact
        self._start(_Triangle(df, vars_fuzzy, vars_exact, id_col))
        self.df = self._u.df


class Linkage:
    """Materialize matched pairs above a posterior threshold (reference
    linkage.py:26-72). The reference's off-by-one Indices[i-1] bug is fixed
    here: we join on pattern_id directly, so a threshold that admits pattern 0
    simply matches nothing extra instead of reading Indices[-1]."""

    def __init__(self, df_a: DataFrame, df_b: DataFrame, comparison, ksi: np.ndarray):
        # Passed frames must carry the SAME id columns the Comparison was
        # built with, or pattern ids and row ids silently misalign; frames
        # without them are rejected rather than re-derived positionally.
        def bind(df, id_col, comp_df, side):
            if df is None:
                return comp_df
            if id_col is None:
                raise ValueError(
                    f"Comparison assigned positional row ids to df_{side}; "
                    f"pass df_{side}=None so Linkage reuses the same frame"
                )
            if id_col not in df.columns:
                raise ValueError(f"df_{side} lacks the Comparison id column {id_col!r}")
            return _with_row_id(df, id_col)[0]

        self.df_a = bind(df_a, getattr(comparison, "id_a", None), comparison.df_a, "a")
        self.df_b = bind(df_b, getattr(comparison, "id_b", None), comparison.df_b, "b")
        self.patterns = comparison.patterns
        self._comparison = comparison
        self.ksi = np.asarray(ksi, dtype=np.float64)

    def transform(self, threshold: float = 0.85) -> DataFrame:
        spark = self.patterns.sparkSession
        # admitted patterns are known driver-side (ksi is a local array), so
        # the sparse engine can skip the exact-only pair frame entirely when
        # no exact-only pattern clears the threshold
        admitted = [
            int(i) for i, v in enumerate(self.ksi) if v >= threshold and i != 0
        ]
        # literal-expression frame, NOT createDataFrame(list): the tiny
        # Python-RDD plan costs a ~1-2 s single-task worker job every time
        # the broadcast side materializes (same finding as the row-id
        # offsets frame, PERF.md round 4). Only ADMITTED patterns need a ksi
        # value (`base` below is already filtered to them), which keeps the
        # literal tree small even at many comparison variables; past 20k
        # admitted patterns fall back to createDataFrame like _with_row_id,
        # where a literal expression tree would bloat the plan.
        admitted_ksi = [(i, float(self.ksi[i])) for i in admitted]
        if len(admitted_ksi) <= _KSI_LITERAL_MAX:
            ksi_df = spark.range(1).select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(-1).cast("long").alias("pattern_id"),
                            F.lit(0.0).cast("double").alias("ksi"),
                        ),
                        *[
                            F.struct(
                                F.lit(int(i)).cast("long").alias("pattern_id"),
                                F.lit(v).cast("double").alias("ksi"),
                            )
                            for i, v in admitted_ksi
                        ],
                    )
                ).alias("kv")
            ).select("kv.pattern_id", "kv.ksi").where(F.col("pattern_id") >= 0)
        else:
            ksi_df = (
                spark.createDataFrame(admitted_ksi, "pattern_id long, ksi double")
                .coalesce(1)
                .localCheckpoint(eager=True)
            )
        base = self._comparison.matched_pairs(admitted)
        # join keys get throwaway names: a post-join rename of id_a would
        # case-insensitively hit a user column suffixed to id_A (a table with
        # an 'id' column) and produce two Index_A columns
        matched = base.join(F.broadcast(ksi_df), "pattern_id").select(
            F.col("id_a").alias("Index_A"),
            F.col("id_b").alias("Index_B"),
            "ksi",
        )
        a = self.df_a.select(
            F.col(_ROW_ID).alias("__jka"),
            *[F.col(c).alias(f"{c}_A") for c in self.df_a.columns if c != _ROW_ID],
        )
        b = self.df_b.select(
            F.col(_ROW_ID).alias("__jkb"),
            *[F.col(c).alias(f"{c}_B") for c in self.df_b.columns if c != _ROW_ID],
        )
        return (
            matched.join(a, matched["Index_A"] == a["__jka"])
            .join(b, matched["Index_B"] == b["__jkb"])
            .drop("__jka", "__jkb")
        )
