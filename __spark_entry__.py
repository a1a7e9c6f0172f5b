"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship near-dup dedup (MinHash-LSH -> exact-Jaccard
  verify) over /root/testdata/sf0.001/documents.parquet.
- ``queries()``: one entry per implemented operator family (SURVEY.md §2 +
  the training-data extras); each callable (spark, sf_dir) -> DataFrame.
- ``oracle_sql()``: DuckDB ANSI-SQL twins. Column names/aliases match the
  Spark outputs exactly; float-bearing outputs are either integer-only,
  decimal-cast, rank-only, or rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

JACCARD_THR_NUM = 800_000  # threshold 0.8 as integer micro-units
NGRAM = 3
# document-frequency cap for the exact shingle self-join: a 3-gram shared by
# m docs fans m^2 rows, so web-scale boilerplate shingles (df in the
# millions) would dominate the join. Shingles above the cap are excluded
# from BOTH the intersection and the sizes (df-capped Jaccard — stopword
# removal, mirrored exactly in the DuckDB oracle). Far above any sf<=0.1
# frequency, so test-scale results are the uncapped exact Jaccard.
HOT_SHINGLE_DF_CAP = 100_000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _lit_rows(spark: SparkSession, rows, cols: list[tuple[str, str]]) -> DataFrame:
    """Driver-sized rows as a LITERAL-expression frame (tiny-frame rule,
    PERF.md round 4): createDataFrame(list) plans a Python-RDD scan whose
    first use in a session pays worker-fork + applySchemaToPythonRDD
    first-use cost (~1 s) and a single-task job every time. These frames
    are a handful of rows computed on the driver (EM posteriors, threshold
    sweeps, complement counts), so an exploded literal array is JVM-only
    and free. cols = [(name, spark_type), ...]."""
    return spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        *[
                            F.lit(v).cast(t).alias(c)
                            for v, (c, t) in zip(row, cols)
                        ]
                    )
                    for row in rows
                ]
            )
        ).alias("r")
    ).select(*[F.col(f"r.{c}") for c, _ in cols])


# ---------------------------------------------------------------- flagship
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: verified near-duplicate pairs on sf0.001 documents."""
    return q_minhash_lsh_dedup(spark, "/root/testdata/sf0.001")


# ------------------------------------------------------------- dedup family
def _fused_sketch_frame(docs, id_col, text_col, num_perm=128, n=NGRAM, seed=42,
                        spread=True):
    """(id, minhash, sh) via operators.lsh.fused_sketch_frame: it feeds the
    banding branch AND both verify join sides, halving the dominant map-side
    cost vs separate signature + shingle passes.

    Spread + EAGER checkpoint (round-6 interleaved A/B, clean windows): a
    single-file scan pinned the whole sketch kernel to ONE core (1.3 s of a
    3.7 s cold minhash run was that single-task job), and a LAZY checkpoint
    lets AQE's concurrently-submitted shuffle-stage jobs each recompute the
    un-materialized sketch subtree (four overlapping 2-stage jobs in the
    cold curation profile). ensure_min_parallelism spreads the kernel
    (no-op at corpus scale) and eager=True materializes exactly once before
    the fan-out: minhash 1.17-1.28 -> 0.99-1.01 s warm, cold 4.37 -> ~1.1 s,
    same-session alternation, 0.0 s steal throughout.

    ``spread=False`` for callers whose input is ALREADY spread (curation's
    ``kept``): the guard's partition probe (``df.rdd``) on an AQE plan WITH
    a shuffle finalizes and executes the whole upstream at call time —
    measured +3.5 s on the curation query when left on."""
    from fast_er_spark.operators.lsh import fused_sketch_frame
    from fast_er_spark.partitioning import ensure_min_parallelism

    if spread:
        docs = ensure_min_parallelism(docs)
    return fused_sketch_frame(
        docs, id_col, text_col, num_perm=num_perm, n=n, seed=seed
    ).localCheckpoint(eager=True)


def q_minhash_lsh_dedup(spark, sf_dir):
    """MinHash-LSH candidates + exact shingle-Jaccard verification (the scale
    path). At 32 bands x 4 rows recall at j>=0.8 is 1 - 5e-8 FOR ANY MinHash
    family, and verification fixes precision exactly, so the result equals
    the brute-force oracle regardless of the signature scheme — the query
    uses the compiled executor-JVM fused OPH+shingle kernel (ONE
    tokenization pass feeds both candidate generation and verification)."""
    from fast_er_spark.operators.lsh import lsh_candidate_pairs
    from fast_er_spark.operators.verify import verify_pairs_jaccard

    docs = _t(spark, sf_dir, "documents")
    ss = _fused_sketch_frame(docs, "doc_id", "text", num_perm=128, n=NGRAM, seed=42)
    cand = lsh_candidate_pairs(
        docs, "doc_id", "text", num_perm=128, bands=32, rows_per_band=4,
        n=NGRAM, seed=42, presigned=ss.select("id", "minhash"),
    )
    pairs = verify_pairs_jaccard(
        cand, docs, "doc_id", "text", n=NGRAM, threshold=0.8,
        shingles=ss.select("id", "sh"),
    )
    return pairs.select("id_a", "id_b", "inter_size", "union_size")


def q_token_jaccard_pairs(spark, sf_dir):
    """Brute-force-by-content n-gram Jaccard pairs: shingle explode +
    self-equi-join on shingle + count — no LSH, the exact path. Shingle
    hashes come from the executor-JVM kernel (the output is
    hash-family-independent: counts of equal-shingle pairs)."""
    from fast_er_spark.functions.jvm_sketch import ensure_jvm_udfs, shingle_hashes_jvm
    from fast_er_spark.partitioning import ensure_min_parallelism

    # single-file scans plan one task; spread the shingle kernel + explode
    # across the cores (no-op at corpus scale — see partitioning.py)
    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents"))
    ensure_jvm_udfs(spark)
    sh = docs.select(
        F.col("doc_id").alias("id"), F.explode(shingle_hashes_jvm("text", NGRAM)).alias("g")
    )
    # df-cap stays a count WINDOW (measured A/B this round, strict
    # alternation with steal filtering: window 1.67 s vs hot-key
    # anti-join 2.08-2.52 s at sf0.1 — the anti-join's extra checkpoint +
    # broadcast build + agg shuffle cost more than the sort it removes at
    # this frame size; revisit only if the exploded frame's sort shuffle
    # ever dominates a profile)
    sh = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .where(F.col("df") <= HOT_SHINGLE_DF_CAP)
        .drop("df")
    )
    # the capped shingle frame feeds FOUR consumers (a-side, b-side, and both
    # size joins); without materialization Spark recomputes the shingle UDF +
    # df-cap window once per consumer (4 scans / 4 ArrowEvalPython stages in
    # the round-2 plan snapshot) — same recompute trap verify.py checkpoints
    # against
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "g")
    b = sh.select(F.col("id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("id_a") > F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("union_size", (F.col("na") + F.col("nb") - F.col("inter_size")).cast("long"))
        .where(F.col("inter_size") * 1_000_000 >= F.lit(JACCARD_THR_NUM) * F.col("union_size"))
        .select("id_a", "id_b", F.col("inter_size").cast("long").alias("inter_size"), "union_size")
    )


def q_cc_clusters(spark, sf_dir):
    """Connected components (large-star/small-star) over verified dup pairs."""
    from fast_er_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_dedup(spark, sf_dir)
    return connected_components(
        pairs, nodes=docs.selectExpr("doc_id as id")
    ).select(F.col("id").cast("long").alias("id"), F.col("component").cast("long").alias("component"))


def q_exact_dedup_pairs(spark, sf_dir):
    """Exact-key dedup pairs (hash self-equi-join, reference #12 semantics)
    on a normalized key."""
    from fast_er_spark.operators.agreement import exact_levels_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "k", F.concat_ws("|", "lang", "source")
    )
    return exact_levels_dedup(docs, "k", "doc_id").select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long")
    )


def q_substring_anchor_pairs(spark, sf_dir):
    """Long-shared-substring candidates via content-defined 32-char anchors
    (token-initial a..e selector — alignment-invariant AND SQL-twinnable;
    the pipeline's default selector is xxhash64 winnowing)."""
    from fast_er_spark.operators.substring import anchor_pairs

    docs = _t(spark, sf_dir, "documents").selectExpr("doc_id as id", "text")
    return anchor_pairs(
        docs, "id", "text", anchor_len=32, selector="token_initial",
        max_anchor_freq=10_000_000,
    ).select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


# --------------------------------------------------- Fellegi-Sunter family
def q_fs_pattern_counts(spark, sf_dir):
    """Exact-variable agreement-pattern histogram over the supplier lower
    triangle, incl. the reference's n(n+1)/2 complement quirk
    (deduplication.py:825)."""
    from fast_er_spark.operators.agreement import (
        assemble_patterns,
        exact_levels_dedup,
        pattern_counts,
    )

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_nationkey").cast("string").alias("nat"),
        F.floor(F.col("s_acctbal") / 1000).cast("string").alias("balband"),
    )
    frames = [exact_levels_dedup(sup, "nat", "id"), exact_levels_dedup(sup, "balband", "id")]
    pats = assemble_patterns(frames, k_fuzzy=0, k_exact=2)
    observed = pattern_counts(pats)
    # checkpoint: the complement sum (collect below) and the returned frame
    # would otherwise each execute the full pattern DAG
    nonzero = observed.where(F.col("pattern_id") != 0).localCheckpoint(eager=False)
    # the supplier count and the pattern-sum job are independent — overlap
    # them (two serial driver actions otherwise, guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as ex:
        f_n = ex.submit(sup.count)
        f_s = ex.submit(
            lambda: nonzero.agg(F.coalesce(F.sum("cnt"), F.lit(0))).collect()[0][0]
        )
        n = f_n.result()
        s = f_s.result()
    total = n * (n + 1) // 2
    comp = _lit_rows(
        spark, [(0, total - int(s))], [("pattern_id", "long"), ("cnt", "long")]
    )
    return nonzero.select(F.col("pattern_id").cast("long"), F.col("cnt").cast("long")).unionByName(
        comp
    )


def q_fuzzy_jw_supplier(spark, sf_dir):
    """Jaro-Winkler banded dedup levels on supplier names (reference fuzzy
    semantics — no SQL oracle: DuckDB's JW is the textbook variant)."""
    from fast_er_spark.operators.agreement import fuzzy_levels_dedup

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_name")
    )
    return fuzzy_levels_dedup(sup, "s_name", "id", p=0.1, lower=0.7, upper=0.9).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), F.col("level").cast("int")
    )


def q_fs_posteriors(spark, sf_dir):
    """Full FS flow driver-side: EM over supplier exact-pattern counts,
    posterior per pattern (non-SQL-expressible: EM)."""
    import numpy as np

    from fast_er_spark.estimation import Estimation
    from fast_er_spark.patterns import counts_with_complement

    counts_df = q_fs_pattern_counts(spark, sf_dir).collect()
    observed = {int(r["pattern_id"]): int(r["cnt"]) for r in counts_df}
    counts = np.zeros(4, dtype=np.int64)
    for pid, c in observed.items():
        counts[pid] = c
    est = Estimation(0, 2, counts, seed=13).fit()
    rows = [(int(i), float(round(v, 6))) for i, v in enumerate(est.ksi)]
    return _lit_rows(spark, rows, [("pattern_id", "long"), ("ksi", "double")])


def q_linkage_transform(spark, sf_dir):
    """The reference's actual output surface (linkage.py:26-72): EM-weighted
    matched pairs with suffixed columns + Index_A/Index_B, on an even/odd
    supplier split with two exact variables. EM is deterministic (seed 13):
    at sf>=0.01 the admitted patterns at threshold 0.5 are exactly
    {balband-agrees} (ksi ~0.82/0.85 vs ~0.003), so the DuckDB twin can
    express the transform as the balband equi-join. The ksi column itself is
    engine-defined (EM float) and excluded from the compared output."""
    from fast_er_spark.linkage import Comparison, Estimation, Linkage

    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        "s_name",
        F.col("s_nationkey").cast("string").alias("nat"),
        F.floor(F.col("s_acctbal") / 1000).cast("string").alias("balband"),
    )
    a = sup.where(F.col("id") % 2 == 0)
    b = sup.where(F.col("id") % 2 == 1)
    import numpy as np

    comp = Comparison(
        a, b, [], [], ["nat", "balband"], ["nat", "balband"], id_a="id", id_b="id"
    ).fit()
    est = Estimation(0, 2, comp.counts(), seed=13).fit()
    ksi = np.asarray(est.ksi, dtype=np.float64)
    if not np.all(np.isfinite(ksi)):
        # degenerate scale (sf<=0.001: ~10 suppliers): EM cannot estimate
        # and returns nan posteriors; fall back to the admitted set EM
        # produces at every non-degenerate SF (balband-agree patterns),
        # which is also what the oracle SQL expresses
        ksi = np.zeros(4)
        ksi[[1, 3]] = 1.0
    out = Linkage(None, None, comp, ksi).transform(0.5)
    return out.select(
        F.col("Index_A").cast("long").alias("index_a"),
        F.col("Index_B").cast("long").alias("index_b"),
        "s_name_A",
        "s_name_B",
    )


# ------------------------------------------------------- text analysis ops
def q_tokenstats(spark, sf_dir):
    """token/distinct-token counts via the one-pass text_stats kernel
    (jvm/TextUdfs.java)."""
    from fast_er_spark.functions.text import text_stats

    docs = _t(spark, sf_dir, "documents")
    st = text_stats(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        st[0].alias("n_tokens"),
        st[1].alias("n_distinct"),
    )


def q_quality_scores(spark, sf_dir):
    from fast_er_spark.functions.text import quality_score_from_stats, text_stats

    docs = _t(spark, sf_dir, "documents")
    st = text_stats(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        quality_score_from_stats(st).alias("quality"),
    )


def q_quality_gopher(spark, sf_dir):
    """Full public Gopher rule set (functions/text.py::gopher_stats): word
    count / mean word length / symbol / bullet / ellipsis / alphabetic /
    stopword rules, all as single-pass JVM regexp expressions with
    RE2-compatible patterns — ORACLED against an identical DuckDB twin."""
    from fast_er_spark.functions.text import gopher_stats

    docs = _t(spark, sf_dir, "documents")
    g = gopher_stats(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        g["n_words"].alias("n_words"),
        g["mean_word_len"].alias("mean_word_len"),
        g["symbol_ratio"].alias("symbol_ratio"),
        g["bullet_ratio"].alias("bullet_ratio"),
        g["ellipsis_ratio"].alias("ellipsis_ratio"),
        g["alpha_ratio"].alias("alpha_ratio"),
        g["stopword_hits"].alias("stopword_hits"),
        g["passes"].alias("passes"),
    )


def q_doc_fingerprint(spark, sf_dir):
    from fast_er_spark.functions.text import rolling_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        rolling_fingerprint(F.col("text")).alias("fp"),
    )


_LANG_MARKERS = {
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein"],
    "en": ["the", "a", "an", "and", "of", "to", "is"],
    "es": ["el", "la", "los", "las", "que", "y", "es"],
    "fr": ["le", "la", "les", "et", "des", "est", "une"],
    "zh": ["的", "是", "了", "在", "和"],
}


def _lang_score_cols(text_col):
    """Aliased per-language marker-count Columns (``s_<lang>``) — project
    these FIRST, then apply ``_lang_pred_from_scores`` over the aliased
    columns: inlining the kernel call into the argmax chain duplicates the
    whole marker expression ~3x per language, and the ANALYSIS of that tree
    alone measured ~0.5 s per query build. Shared by q_lang_id and
    q_curation_pipeline (the composition computes the route inline instead
    of re-scanning documents and joining on doc_id)."""
    from fast_er_spark.functions.text import lang_marker_counts

    langs = list(_LANG_MARKERS)
    # the kernel lowercases internally (Locale.ROOT toLowerCase), like the
    # F.lower of the DuckDB twin
    cnts = lang_marker_counts(text_col, _LANG_MARKERS)
    return [cnts[i].alias(f"s_{lg}") for i, lg in enumerate(langs)]


def _lang_pred_from_scores():
    """argmax with fixed priority order over the ``s_<lang>`` columns."""
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.lit("en")
    # fixed priority: first language (in sorted key order) reaching the max
    for lg in reversed(sorted(langs)):
        pred = F.when(F.col(f"s_{lg}") == best, F.lit(lg)).otherwise(pred)
    return pred


def q_lang_id(spark, sf_dir):
    """Marker-token language-ID heuristic; argmax with fixed priority order.
    ALL languages are counted in one tokenization pass
    (jvm/TextUdfs.java::MarkerCounts)."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *_lang_score_cols(F.col("text")),
    )
    return scored.select("doc_id", _lang_pred_from_scores().alias("pred_lang"))


def q_lang_id_ngram(spark, sf_dir):
    """Statistical language-ID: Cavnar-Trenkle character-n-gram rank
    profiles (top-300 1..3-grams, out-of-place distance) over 9 languages —
    the production-grade upgrade over marker-token counting, one compiled
    pass per doc. Rows-only: the rank-profile pipeline is not expressible
    as a DuckDB one-liner; parity + accuracy are pytest-gated
    (tests/test_sketch_functions.py)."""
    from fast_er_spark.functions.text import lang_id_ngram

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_id_ngram(F.col("text")).alias("pred_lang"),
    )


# -------------------------------------------------------- similarity search
def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the first 20 query vectors —
    rank-only output (cross-engine float-safe). JVM-side dot products via
    zip_with/aggregate."""
    # norms hoisted to PER-SIDE columns before the join: computed inside the
    # pair projection they are interpreter-folded per PAIR (|Q|x|C| times);
    # per row the fold runs once on the same array with the same operation
    # order, so cos is bit-identical and 2 of the 3 per-pair folds disappear.
    # (No scan-parallelism guard: measured a wash-to-negative on this family
    # in the round-6 interleaved A/B — see similarity.py module note.)
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), norm.alias("nrm")
    )
    dot = F.aggregate(
        F.zip_with(F.col("q.v"), F.col("c.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = emb.where(F.col("vec_id") < 20).alias("q")
    c = emb.alias("c")
    scored = (
        q.join(c, F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("qid"),
            F.col("c.vec_id").alias("vid"),
            (dot / (F.col("q.nrm") * F.col("c.nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(F.col("qid").cast("long"), F.col("vid").cast("long"), F.col("rank").cast("int"))
    )


# ------------------------------------------------ generic relational ops
def q_events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact decimal sum, then one double conversion: both engines
            # round the same exact value to the same IEEE double (cents are
            # far below 2^53), so the driver's value hash matches bit-for-bit
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .select("hour", "event_type", F.col("n").cast("long"), F.col("sum_value").cast("double"))
    )


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("sum_qty").cast("double"),
            F.col("sum_base_price").cast("double"),
            F.col("count_order").cast("long"),
        )
    )


def q_top_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
        .select("c_custkey", "c_name", F.col("revenue").cast("double"))
    )


def q_orders_semi(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi").select(
        F.col("o_orderkey").cast("long")
    )


def q_customers_anti(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        F.col("c_custkey").cast("long")
    )


def q_nations_intersect(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).distinct()
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    ).distinct()
    return cust.intersect(sup)


def q_nations_except(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).distinct()
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    ).distinct()
    return cust.exceptAll(sup)


def q_orders_running_sum(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").cast("long"),
        F.col("o_orderkey").cast("long"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias(
            "running_total"
        ),
    )


def q_simhash_bands(spark, sf_dir):
    """SimHash fingerprints + band keys (rows-only: hash family is
    engine-defined)."""
    from pyspark.sql import types as T

    from fast_er_spark.functions.simhash import simhash_batch

    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        return simhash_batch(texts, n=NGRAM, mode="word", seed=42)

    docs = _t(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id").cast("long"), sh(F.col("text")).alias("simhash"))


def q_fs_threshold_metrics(spark, sf_dir):
    """Evaluation surface (reference evaluation.py): estimated FDR/FNR over
    a threshold grid + optimal threshold, from the supplier pattern counts
    (rows-only: depends on EM posteriors)."""
    import numpy as np

    from fast_er_spark.estimation import Estimation
    from fast_er_spark.evaluation import Evaluation

    observed = {
        int(r["pattern_id"]): int(r["cnt"])
        for r in q_fs_pattern_counts(spark, sf_dir).collect()
    }
    counts = np.zeros(4, dtype=np.int64)
    for pid, c in observed.items():
        counts[pid] = c
    est = Estimation(0, 2, counts, seed=13).fit()
    ev = Evaluation(est.lam, est.ksi, counts)
    rows = [
        (round(float(t), 2), float(np.nan_to_num(ev.fdr(t), nan=-1.0)),
         float(np.nan_to_num(ev.fnr(t), nan=-1.0)))
        for t in np.linspace(0.0, 1.0, 21)
    ]
    return _lit_rows(
        spark, rows, [("threshold", "double"), ("fdr", "double"), ("fnr", "double")]
    )


def q_simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup pairs via the Manku-Jain-Sarma permuted-block
    operator (operators/simhash_pairs.py): 4 blocks x 1 key block = the same
    4x16-bit table design as round 2 (identical output at test SFs, where no
    bucket exceeds the cap), but hot buckets now degrade to sorted-window
    adjacency instead of being dropped — recall decays gracefully on an
    unbounded corpus instead of collapsing at the 2^16 key-universe ceiling.
    allow_missed_pairs: the 4/1 rig only GUARANTEES Hamming<=3 collisions
    (the operator's default 3/6/3 config guarantees its hamming_max; here
    the 16-bit keys keep test-SF buckets tiny and pairs with diffs in all 4
    blocks are accepted as best-effort, explicitly opted into).
    Rows-only: hash family engine-defined."""
    from fast_er_spark.operators.simhash_pairs import simhash_near_pairs

    fps = q_simhash_bands(spark, sf_dir)  # (doc_id, simhash)
    return simhash_near_pairs(
        fps, "doc_id", "simhash", hamming_max=6, blocks=4, key_blocks=1,
        max_bucket_size=HOT_SHINGLE_DF_CAP, scan_window=8,
        allow_missed_pairs=True,
    )


def q_embedding_lsh_topk(spark, sf_dir):
    """Approximate ANN: SRP-bucketed candidates + exact cosine re-rank.
    ORACLED against the exact brute-force top-5 SQL: the re-rank is exact
    cosine, so the output equals exact top-k whenever the candidate set
    covers it — at the test-scale config (3 planes, 24 tables; the fixture
    is unclustered so neighbor cosines are low) coverage is measured 100/100
    at sf0.001/0.01/0.1. Production configs trade recall for candidates."""
    from fast_er_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    q = emb.where(F.col("vec_id") < 20)
    return lsh_topk(q, emb, dim=dim, k=5, n_planes=3, n_tables=24).select(
        F.col("qid").cast("long"), F.col("vid").cast("long"), F.col("rank").cast("int")
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — the brute-force exact twin of
    the ANN paths, cross-engine FLOAT-FREE: components quantize to
    round(x*100) ints and the threshold test is pure int64 arithmetic
    (cos >= 0.4 <=> dot > 0 and 25*dot^2 >= 4*|a|^2*|b|^2), so Spark and
    DuckDB agree bit-for-bit. Threshold 0.4 is test-scale (the fixture
    embeddings are unclustered; production near-dup uses 0.9+ with the
    LSH/IVF candidate paths)."""
    # squared norms hoisted per SIDE (int64 fold once per row, not per pair
    # — integer arithmetic, values identical; see q_embedding_topk)
    sqn = F.aggregate(
        F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.round(x * 100).cast("long")
        ).alias("q"),
    ).select("vec_id", "q", sqn.alias("sqn"))
    dot = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") > F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            dot.alias("d"),
            F.col("a.sqn").alias("na"),
            F.col("b.sqn").alias("nb"),
        )
        .where((F.col("d") > 0) & (25 * F.col("d") * F.col("d") >= 4 * F.col("na") * F.col("nb")))
        .select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
    )


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Embedding near-dup pairs via the SCALE path (SRP-bucketed candidates
    + exact integer-quantized cosine verify) — oracled against the same
    brute-force SQL as q_embedding_near_dup: verification is exact, so the
    outputs hash-equal wherever SRP recall is 1.0. At the test-scale
    threshold 0.4 (fixture embeddings are unclustered) that needs coarse
    buckets: (3 planes, 24 tables) gives measured recall 1.0 at sf0.001/
    0.01/0.1 and analytic per-pair miss < 1e-4 at cos = 0.4. Production
    semantic dedup (threshold 0.9+) uses the default (8 planes, 16
    tables)."""
    from fast_er_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    return embedding_near_dup_pairs(
        emb, dim=dim, threshold=0.4, n_planes=3, n_tables=24, seed=42
    ).select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


def q_embedding_ivf_topk(spark, sf_dir):
    """Approximate ANN via an IVF index (coarse k-means cells, multi-assign
    spill lists, n_probe search, exact cosine re-rank). ORACLED against the
    exact brute-force top-5 SQL: re-ranking is exact cosine, and at this
    config (32 cells, probe 16, assign 4 — generous because the fixture is
    unclustered) the probed cells cover the exact top-5 for every query at
    sf0.001/0.01/0.1 (measured). Production configs on clustered corpora use
    far smaller probe/assign."""
    from fast_er_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    q = emb.where(F.col("vec_id") < 20)
    return ivf_topk(
        q, emb, dim=dim, k=5, n_cells=32, n_probe=16, n_assign=4
    ).select(
        F.col("qid").cast("long"), F.col("vid").cast("long"), F.col("rank").cast("int")
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary media column -> mapInPandas feature
    extraction (decode deterministically stubbed; rows-only)."""
    from fast_er_spark.operators.multimodal import attach_fake_media, media_features

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs, "doc_id")
    return media_features(media, "doc_id", decode="fake").select(
        F.col("id").cast("long"), "mime",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    )


def q_curation_pipeline(spark, sf_dir):
    """The brief's end-to-end curation journey as ONE query: Gopher quality
    gate -> marker language routing -> near-dup dedup WITHIN each language
    route (LSH + exact-Jaccard verify) -> connected components -> per-doc
    keep decision (cluster representative = min doc_id). Every stage is the
    same oracled operator the driver checks piecewise (quality_gopher,
    lang_id, minhash_lsh_dedup, cc_clusters); the composition is oracled
    end-to-end too."""
    from fast_er_spark.functions.text import gopher_stats
    from fast_er_spark.operators.components import connected_components
    from fast_er_spark.operators.lsh import lsh_candidate_pairs
    from fast_er_spark.operators.verify import verify_pairs_jaccard
    from fast_er_spark.partitioning import ensure_min_parallelism

    # single-file scans plan one task; spread the gopher/lang kernels across
    # the cores (no-op at corpus scale — see partitioning.py). barrier=True:
    # Catalyst otherwise pushes the gopher predicate below the repartition,
    # landing the whole regexp battery back in the single-task scan stage
    # (measured: a 0.65 s 1-task job).
    docs = ensure_min_parallelism(_t(spark, sf_dir, "documents"), barrier=True)
    # min_stopword_hits=0: the rule thresholds are deployment knobs, and the
    # synthetic corpus is token-salad with no English function words — the
    # stopword rule would gate out EVERY document (the other six rules keep
    # their published defaults and really bind here: ~45% of docs fail the
    # 50-word floor at sf0.01)
    g = gopher_stats(F.col("text"), min_stopword_hits=0)
    kept = (
        docs.where(g["passes"] == 1)
        # the language route is a pure per-row expression over text — the
        # same Columns q_lang_id projects — so compute it INLINE instead of
        # re-scanning documents and equi-joining the routes back on doc_id
        # (one scan + one broadcast join removed; values identical). Two
        # projections on purpose: see _lang_score_cols.
        .select("doc_id", "text", *_lang_score_cols(F.col("text")))
        .select("doc_id", "text", _lang_pred_from_scores().alias("pred_lang"))
        # three consumers (LSH, verify, lang join-backs + CC nodes): without
        # materialization the gopher/lang gates recompute per consumer
        .localCheckpoint(eager=False)
    )
    # spread=False: kept is already 32-way from the barrier repartition,
    # and the guard's partition probe would execute the AQE upstream
    ss = _fused_sketch_frame(kept, "doc_id", "text", num_perm=128, n=NGRAM,
                             seed=42, spread=False)
    cand = lsh_candidate_pairs(
        kept, "doc_id", "text", num_perm=128, bands=32, rows_per_band=4,
        n=NGRAM, seed=42, presigned=ss.select("id", "minhash"),
    )
    pairs = verify_pairs_jaccard(
        cand, kept, "doc_id", "text", n=NGRAM, threshold=0.8,
        shingles=ss.select("id", "sh"),
    )
    la = kept.select(F.col("doc_id").alias("id_a"), F.col("pred_lang").alias("la"))
    lb = kept.select(F.col("doc_id").alias("id_b"), F.col("pred_lang").alias("lb"))
    edges = (
        pairs.join(la, "id_a").join(lb, "id_b")
        .where(F.col("la") == F.col("lb"))  # dedup never crosses a route
        .select("id_a", "id_b")
    )
    comp = connected_components(edges, nodes=kept.selectExpr("doc_id as id"))
    return (
        comp.join(kept.selectExpr("doc_id as id", "pred_lang"), "id")
        .select(
            F.col("id").cast("long").alias("doc_id"),
            "pred_lang",
            F.col("component").cast("long").alias("component"),
            F.when(F.col("id") == F.col("component"), F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias("keep"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "minhash_lsh_dedup": q_minhash_lsh_dedup,
        "token_jaccard_pairs": q_token_jaccard_pairs,
        "cc_clusters": q_cc_clusters,
        "exact_dedup_pairs": q_exact_dedup_pairs,
        "substring_anchor_pairs": q_substring_anchor_pairs,
        "fs_pattern_counts": q_fs_pattern_counts,
        "fuzzy_jw_supplier": q_fuzzy_jw_supplier,
        "fs_posteriors": q_fs_posteriors,
        "linkage_transform": q_linkage_transform,
        "tokenstats": q_tokenstats,
        "quality_scores": q_quality_scores,
        "quality_gopher": q_quality_gopher,
        "doc_fingerprint": q_doc_fingerprint,
        "lang_id": q_lang_id,
        "lang_id_ngram": q_lang_id_ngram,
        "embedding_topk": q_embedding_topk,
        "events_hourly": q_events_hourly,
        "tpch_q1": q_tpch_q1,
        "top_customers": q_top_customers,
        "orders_semi": q_orders_semi,
        "customers_anti": q_customers_anti,
        "nations_intersect": q_nations_intersect,
        "nations_except": q_nations_except,
        "orders_running_sum": q_orders_running_sum,
        "simhash_bands": q_simhash_bands,
        "simhash_near_pairs": q_simhash_near_pairs,
        "fs_threshold_metrics": q_fs_threshold_metrics,
        "embedding_lsh_topk": q_embedding_lsh_topk,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "media_features": q_media_features,
        "curation_pipeline": q_curation_pipeline,
    }


# --------------------------------------------------------------- oracles
_SHINGLES_CTE = """
tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
  WHERE length(trim(text)) > 0
),
sh AS (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE list_distinct([array_to_string(ts[i:i+2], ' ')
                        for i in range(1, len(ts) - 1)]) END) AS g
  FROM tok
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id > b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT id_a, id_b, CAST(inter_size AS BIGINT) AS inter_size,
         CAST(sa.n + sb.n - inter_size AS BIGINT) AS union_size
  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE inter_size * 1000000 >= 800000 * (sa.n + sb.n - inter_size)
)
"""

_JACCARD_SQL = f"WITH {_SHINGLES_CTE} SELECT id_a, id_b, inter_size, union_size FROM jpairs"

# token_jaccard twin with the df-capped shingle space (cap never binds at
# test SFs, so values equal the uncapped oracle there)
_CAPPED_JACCARD_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
  WHERE length(trim(text)) > 0
),
sh_all AS (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE list_distinct([array_to_string(ts[i:i+2], ' ')
                        for i in range(1, len(ts) - 1)]) END) AS g
  FROM tok
),
sh AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM sh_all
  ) WHERE df <= {HOT_SHINGLE_DF_CAP}
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id > b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(inter_size AS BIGINT) AS inter_size,
       CAST(sa.n + sb.n - inter_size AS BIGINT) AS union_size
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter_size * 1000000 >= 800000 * (sa.n + sb.n - inter_size)
"""

_CC_SQL = f"""
WITH RECURSIVE {_SHINGLES_CTE},
edges AS (
  SELECT id_a AS s, id_b AS d FROM jpairs
  UNION ALL SELECT id_b, id_a FROM jpairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(MIN(r) AS BIGINT) AS component
FROM reach GROUP BY id
"""


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}
    sqls["minhash_lsh_dedup"] = _JACCARD_SQL
    sqls["token_jaccard_pairs"] = _CAPPED_JACCARD_SQL
    sqls["cc_clusters"] = _CC_SQL
    sqls["exact_dedup_pairs"] = """
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
FROM documents a JOIN documents b
  ON concat(a.lang, '|', a.source) = concat(b.lang, '|', b.source)
 AND a.doc_id > b.doc_id
"""
    sqls["substring_anchor_pairs"] = """
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, greatest(length(text) - 31, 1) + 1)) AS p
  FROM documents
),
anc AS (
  SELECT DISTINCT doc_id, substr(text, p, 32) AS anchor FROM pos
  WHERE (p = 1 OR substr(text, p - 1, 1) = ' ')
    AND substr(text, p, 1) BETWEEN 'a' AND 'e'
    AND length(substr(text, p, 32)) = 32
)
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
FROM anc a JOIN anc b ON a.anchor = b.anchor AND a.doc_id > b.doc_id
"""
    sqls["fs_pattern_counts"] = """
WITH s AS (
  SELECT s_suppkey AS id, CAST(s_nationkey AS VARCHAR) AS nat,
         CAST(CAST(floor(s_acctbal / 1000) AS BIGINT) AS VARCHAR) AS balband
  FROM supplier
),
pairs AS (
  SELECT CAST(a.nat = b.nat AS INT) * 2 + CAST(a.balband = b.balband AS INT) AS pid
  FROM s a JOIN s b ON a.id > b.id
),
nonzero AS (
  SELECT CAST(pid AS BIGINT) AS pattern_id, CAST(count(*) AS BIGINT) AS cnt
  FROM pairs WHERE pid <> 0 GROUP BY pid
)
SELECT pattern_id, cnt FROM nonzero
UNION ALL
SELECT CAST(0 AS BIGINT),
       CAST((SELECT count(*) * (count(*) + 1) // 2 FROM s)
          - (SELECT COALESCE(sum(cnt), 0) FROM nonzero) AS BIGINT)
"""
    sqls["linkage_transform"] = """
WITH sup AS (
  SELECT s_suppkey AS id, s_name,
         CAST(CAST(floor(s_acctbal / 1000) AS BIGINT) AS VARCHAR) AS balband
  FROM supplier
)
SELECT CAST(a.id AS BIGINT) AS index_a, CAST(b.id AS BIGINT) AS index_b,
       a.s_name AS "s_name_A", b.s_name AS "s_name_B"
FROM sup a JOIN sup b
  ON a.id % 2 = 0 AND b.id % 2 = 1 AND a.balband = b.balband
"""
    sqls["tokenstats"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS BIGINT)
            AS n_distinct
FROM documents
"""
    sqls["quality_scores"] = """
WITH t AS (
  SELECT doc_id, text, length(text) AS n,
    length(regexp_replace(text, '[^0-9A-Za-z\\s]', '', 'g')) AS stripped,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS ndis
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  round((
    (CASE WHEN ntok BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
    + (1.0 - CASE WHEN n > 0 THEN (n - stripped) * 1.0 / n ELSE 0.0 END)
    + (CASE WHEN ntok > 0 THEN ndis * 1.0 / ntok ELSE 0.0 END)
  ) / 3.0, 6) AS quality
FROM t
"""
    from fast_er_spark.functions.text import GOPHER_STOPWORDS

    stop_sum = " + ".join(
        f"(CASE WHEN regexp_matches(lower(text), '\\b{w}\\b') THEN 1 ELSE 0 END)"
        for w in GOPHER_STOPWORDS
    )
    sqls["quality_gopher"] = f"""
WITH t AS (
  SELECT doc_id, (text IS NULL) AS tn,
    len(regexp_extract_all(text, '\\S+')) AS n_words,
    length(regexp_replace(text, '\\s+', '', 'g')) AS word_chars,
    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_sym,
    len(regexp_extract_all(text, '\\n')) + 1 AS n_lines,
    len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•‣▪]')) AS n_bullet,
    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)[ \\t]*$')) AS n_ell,
    len(regexp_extract_all(text, '[^\\s]*[A-Za-z][^\\s]*')) AS n_alpha,
    {stop_sum} AS n_stop
  FROM documents
),
r AS (
  SELECT doc_id, tn, n_words, n_stop,
    CASE WHEN n_words > 0 THEN word_chars * 1.0 / n_words ELSE 0.0 END AS mean_wl,
    CASE WHEN n_words > 0 THEN n_sym * 1.0 / n_words ELSE 0.0 END AS sym_r,
    n_bullet * 1.0 / n_lines AS bull_r,
    n_ell * 1.0 / n_lines AS ell_r,
    CASE WHEN n_words > 0 THEN n_alpha * 1.0 / n_words ELSE 0.0 END AS alpha_r
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CASE WHEN tn THEN NULL ELSE CAST(n_words AS BIGINT) END AS n_words,
  CASE WHEN tn THEN NULL ELSE round(mean_wl, 6) END AS mean_word_len,
  CASE WHEN tn THEN NULL ELSE round(sym_r, 6) END AS symbol_ratio,
  CASE WHEN tn THEN NULL ELSE round(bull_r, 6) END AS bullet_ratio,
  CASE WHEN tn THEN NULL ELSE round(ell_r, 6) END AS ellipsis_ratio,
  CASE WHEN tn THEN NULL ELSE round(alpha_r, 6) END AS alpha_ratio,
  CASE WHEN tn THEN NULL ELSE CAST(n_stop AS BIGINT) END AS stopword_hits,
  CASE WHEN tn THEN NULL ELSE
    CAST(CASE WHEN n_words BETWEEN 50 AND 100000
           AND mean_wl BETWEEN 3.0 AND 10.0
           AND sym_r <= 0.1 AND bull_r <= 0.9 AND ell_r <= 0.3
           AND alpha_r >= 0.8 AND n_stop >= 2
         THEN 1 ELSE 0 END AS BIGINT)
  END AS passes
FROM r
"""
    sqls["doc_fingerprint"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS fp
FROM documents
"""
    marker_cases = []
    for lg in sorted(_LANG_MARKERS):
        lst = ", ".join(f"'{m}'" for m in _LANG_MARKERS[lg])
        marker_cases.append(
            f"len(list_filter(toks, t -> list_contains([{lst}], t))) AS s_{lg}"
        )
    langs_sorted = sorted(_LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs_sorted) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs_sorted
    ) + " ELSE 'en' END"
    sqls["lang_id"] = f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN length(trim(lower(text))) = 0 THEN []
         ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
  FROM documents
),
s AS (SELECT doc_id, {', '.join(marker_cases)} FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id, {case} AS pred_lang FROM s
"""
    # end-to-end curation twin: gopher gate (same unrounded-ratio rule as
    # the quality_gopher twin) -> marker lang route -> same-route jaccard
    # dedup over the KEPT subset -> recursive-CTE components -> keep flag
    sqls["curation_pipeline"] = f"""
WITH RECURSIVE
gt AS (
  SELECT doc_id, (text IS NULL) AS tn,
    len(regexp_extract_all(text, '\\S+')) AS n_words,
    length(regexp_replace(text, '\\s+', '', 'g')) AS word_chars,
    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_sym,
    len(regexp_extract_all(text, '\\n')) + 1 AS n_lines,
    len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•‣▪]')) AS n_bullet,
    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)[ \\t]*$')) AS n_ell,
    len(regexp_extract_all(text, '[^\\s]*[A-Za-z][^\\s]*')) AS n_alpha
  FROM documents
),
gop AS (
  -- stopword rule disabled to mirror min_stopword_hits=0 (see the Spark
  -- query's rationale); remaining rules = published Gopher defaults
  SELECT doc_id FROM gt
  WHERE NOT tn AND n_words BETWEEN 50 AND 100000
    AND (CASE WHEN n_words > 0 THEN word_chars * 1.0 / n_words ELSE 0.0 END)
        BETWEEN 3.0 AND 10.0
    AND (CASE WHEN n_words > 0 THEN n_sym * 1.0 / n_words ELSE 0.0 END) <= 0.1
    AND n_bullet * 1.0 / n_lines <= 0.9
    AND n_ell * 1.0 / n_lines <= 0.3
    AND (CASE WHEN n_words > 0 THEN n_alpha * 1.0 / n_words ELSE 0.0 END) >= 0.8
),
lt AS (
  SELECT doc_id,
    CASE WHEN length(trim(lower(text))) = 0 THEN []
         ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
  FROM documents
),
ls AS (SELECT doc_id, {', '.join(marker_cases)} FROM lt),
langp AS (SELECT doc_id, {case} AS pred_lang FROM ls),
kept AS (
  SELECT d.doc_id, d.text, langp.pred_lang
  FROM documents d
  JOIN gop ON gop.doc_id = d.doc_id
  JOIN langp ON langp.doc_id = d.doc_id
),
tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM kept
  WHERE length(trim(text)) > 0
),
sh AS (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE list_distinct([array_to_string(ts[i:i+2], ' ')
                        for i in range(1, len(ts) - 1)]) END) AS g
  FROM tok
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id > b.doc_id
  GROUP BY 1, 2
),
jp AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b
  JOIN kept ka ON ka.doc_id = i.id_a JOIN kept kb ON kb.doc_id = i.id_b
  WHERE i.inter_size * 1000000 >= 800000 * (sa.n + sb.n - i.inter_size)
    AND ka.pred_lang = kb.pred_lang
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM jp
  UNION ALL SELECT id_b, id_a FROM jp
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM kept
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
SELECT CAST(c.id AS BIGINT) AS doc_id,
       k.pred_lang AS pred_lang,
       CAST(c.component AS BIGINT) AS component,
       CAST(CASE WHEN c.id = c.component THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM comp c JOIN kept k ON k.doc_id = c.id
"""
    sqls["embedding_topk"] = """
WITH pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS vid,
    list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
      / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
         * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rank
  FROM pairs
)
SELECT CAST(qid AS BIGINT) AS qid, CAST(vid AS BIGINT) AS vid, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
    # approximate ANN paths re-rank candidates with EXACT cosine, and their
    # test-scale configs cover the exact top-5 (measured 100/100 at
    # sf0.001/0.01/0.1), so their oracle is the exact top-k itself — the
    # check fails precisely when candidate recall regresses
    sqls["embedding_lsh_topk"] = sqls["embedding_topk"]
    sqls["embedding_ivf_topk"] = sqls["embedding_topk"]
    sqls["embedding_near_dup"] = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 100) AS BIGINT)) AS qv
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_inner_product(a.qv, b.qv) AS d,
         list_inner_product(a.qv, a.qv) AS na,
         list_inner_product(b.qv, b.qv) AS nb
  FROM q a JOIN q b ON a.vec_id > b.vec_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
FROM p WHERE d > 0 AND 25 * d * d >= 4 * na * nb
"""
    # the LSH pair path verifies with the IDENTICAL quantized-integer test,
    # so its oracle is the same brute-force SQL (recall 1.0 at test SFs)
    sqls["embedding_near_dup_lsh"] = sqls["embedding_near_dup"]
    sqls["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""
    sqls["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""
    sqls["top_customers"] = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 10
"""
    sqls["orders_semi"] = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
"""
    sqls["customers_anti"] = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""
    sqls["nations_intersect"] = """
SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
INTERSECT
SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
"""
    sqls["nations_except"] = """
SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
EXCEPT
SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
"""
    sqls["orders_running_sum"] = """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS DOUBLE) AS running_total
FROM orders
"""
    # fuzzy_jw_supplier, fs_posteriors, simhash_bands: engine-defined
    # semantics (reference JW / EM / hash family) — rows-only checks.
    return sqls
