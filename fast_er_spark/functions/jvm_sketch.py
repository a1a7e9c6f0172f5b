"""Runtime-compiled JVM sketch kernel (see jvm/FastErUdfs.java).

A Python signature UDF was the dedup pipeline's dominant corpus-scale cost
(PERF.md): text crossed JVM -> Arrow -> Python per batch. This module
compiles the Java OPH kernel (word mode's only signature path) with the
platform ``javac`` (JDK 17 ships in the Spark image), serves it to the
session via ``ADD JAR`` + ``registerJavaFunction``, and exposes a drop-in
signature column. Spark
loads session-added jars into both the driver's and the executors'
classloaders, so the same path works under local, local-cluster, and
spark-submit deployments (the jar travels like any --jars artifact).

These kernels are the only runtime path: the driver needs JDK 17
(``javac`` + ``jar``), and ``ensure_jvm_udfs`` raises when it cannot build
or register them. Executors only need the jar, which Spark ships to them.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import weakref

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "ensure_jvm_udfs",
    "oph_signature_jvm",
    "sig_and_shingles_jvm",
    "jw_level_jvm_bin",
    "char_mask_jvm",
    "shingle_hashes_jvm",
    "sorted_inter_union_jvm",
    "substring_anchors_jvm",
    "shares_span_jvm",
    "text_stats_jvm",
    "rolling_fp_jvm",
    "marker_counts_jvm",
    "ngram_lang_id_jvm",
]

_JVM_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jvm")
_SRCS = [
    os.path.join(_JVM_DIR, "FastErUdfs.java"),
    os.path.join(_JVM_DIR, "JwUdfs.java"),
    os.path.join(_JVM_DIR, "LcsUdfs.java"),
    os.path.join(_JVM_DIR, "TextUdfs.java"),
]
_UDF_NAME = "fast_er_oph_signature"
_SIG_SH_UDF_NAME = "fast_er_sig_and_shingles"
_INTER_UNION_UDF_NAME = "fast_er_sorted_inter_union"
_JW_BIN_UDF_NAME = "fast_er_jw_level_bin"
_CHAR_MASK_UDF_NAME = "fast_er_char_mask"
_SHINGLE_UDF_NAME = "fast_er_shingle_hashes"
_ANCHOR_UDF_NAME = "fast_er_substring_anchors"
_SHARES_SPAN_UDF_NAME = "fast_er_shares_span"
_TEXT_STATS_UDF_NAME = "fast_er_text_stats"
_ROLLING_FP_UDF_NAME = "fast_er_rolling_fp"
_MARKER_COUNTS_UDF_NAME = "fast_er_marker_counts"
_NGRAM_LANG_UDF_NAME = "fast_er_ngram_lang_id"
_jar_path: str | None = None
# Sessions that have the UDFs registered. A WeakSet, NOT id()-keyed: after a
# session is stopped and garbage-collected, CPython can reuse the id for a
# new session, which would skip registration and make the first call_udf
# fail with an unresolved-function error. Weak entries vanish with the
# session object, so a recycled address can never alias a dead session.
_registered: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _spark_jars_cp() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def _src_digest() -> str:
    import hashlib

    h = hashlib.sha256()
    for s in _SRCS:
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _build_jar() -> str:
    """Compile the Java kernels once per SOURCE VERSION (not per process):
    the jar is cached under ~/.cache/fast_er_jvm/<sha256(sources)>/ and
    reused by every later process — javac cost (~3-4 s) otherwise lands in
    every cold run (measured in the reference-workload fit phase). The
    cache write is atomic (temp file + rename), so concurrent first runs
    race benignly. Raises RuntimeError when the driver has no JDK or the
    sources do not compile."""
    global _jar_path
    if _jar_path and os.path.exists(_jar_path):
        return _jar_path
    missing = [t for t in ("javac", "jar") if shutil.which(t) is None]
    if missing:
        raise RuntimeError(
            "fast_er_spark compiles its JVM kernels on the driver and needs "
            f"JDK 17 there; not on PATH: {', '.join(missing)}"
        )
    cache_dir = os.path.join(os.path.expanduser("~"), ".cache", "fast_er_jvm", _src_digest())
    cached = os.path.join(cache_dir, "fast_er_udfs.jar")
    if not os.path.exists(cached):
        out = tempfile.mkdtemp(prefix="fast_er_jvm_")
        # explicit -encoding: sources are UTF-8; a C/POSIX-locale javac
        # otherwise defaults to US-ASCII and rejects the comments
        _run(["javac", "-encoding", "utf8", "-cp", _spark_jars_cp(), "-d", out, *_SRCS], 120)
        jar = os.path.join(out, "fast_er_udfs.jar")
        cmd = ["jar", "cf", jar]
        for c in os.listdir(out):
            if c.endswith(".class"):
                cmd += ["-C", out, c]
        _run(cmd, 60)
        try:
            os.makedirs(cache_dir, exist_ok=True)
            tmp = cached + f".tmp{os.getpid()}"
            shutil.copyfile(jar, tmp)
            os.replace(tmp, cached)
        except OSError:
            cached = jar  # cache write failed; session still works
    _jar_path = cached
    return cached


def _run(cmd: list[str], timeout: int) -> None:
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout)
    if r.returncode:
        raise RuntimeError(
            f"{cmd[0]} failed building the fast_er_spark JVM kernels "
            f"(exit {r.returncode}):\n{r.stderr.strip()}"
        )


def ensure_jvm_udfs(spark: SparkSession) -> bool:
    """Compile + ADD JAR + register the Java UDFs on this session
    (idempotent). Returns True; raises RuntimeError when the kernels cannot
    be built (see _build_jar)."""
    if spark in _registered:
        return True
    jar = _build_jar()
    spark.sql(f"ADD JAR '{jar}'")
    for name, cls, rtype in (
        (_UDF_NAME, "FastErUdfs", T.ArrayType(T.LongType())),
        (_JW_BIN_UDF_NAME, "JwUdfs$Bin", T.IntegerType()),
        (_CHAR_MASK_UDF_NAME, "JwUdfs$CharMask", T.LongType()),
        (_SHINGLE_UDF_NAME, "FastErUdfs$ShingleHashes", T.ArrayType(T.LongType())),
        (_SIG_SH_UDF_NAME, "FastErUdfs$SigAndShingles", T.ArrayType(T.ArrayType(T.LongType()))),
        (_INTER_UNION_UDF_NAME, "FastErUdfs$SortedInterUnion", T.LongType()),
        (_ANCHOR_UDF_NAME, "FastErUdfs$SubstringAnchors", T.ArrayType(T.LongType())),
        (_SHARES_SPAN_UDF_NAME, "LcsUdfs$SharesSpan", T.BooleanType()),
        (_TEXT_STATS_UDF_NAME, "TextUdfs", T.ArrayType(T.LongType())),
        (_ROLLING_FP_UDF_NAME, "TextUdfs$RollingFp", T.LongType()),
        (_MARKER_COUNTS_UDF_NAME, "TextUdfs$MarkerCounts", T.ArrayType(T.LongType())),
        (_NGRAM_LANG_UDF_NAME, "TextUdfs$NgramLangId", T.StringType()),
    ):
        spark.udf.registerJavaFunction(name, cls, rtype)
    _registered.add(spark)
    return True


def oph_signature_jvm(
    text_col, num_perm: int = 128, n: int = 3, seed: int = 42
) -> Column:
    """JVM OPH signature column (array<long>, null for blank docs): the
    word-mode signature kernel of operators/lsh.py. A different hash family
    from the char-mode k-permutation kernel (functions.minhash.minhash_batch)
    — never mix the two in one index. The caller must have run
    ensure_jvm_udfs(spark) first.
    """
    if num_perm < 2 or num_perm & (num_perm - 1):
        raise ValueError("num_perm must be a power of two >= 2 for OPH")
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.call_udf(
        _UDF_NAME, col, F.lit(num_perm), F.lit(n), F.lit(seed).cast("long")
    )


def sig_and_shingles_jvm(
    text_col, num_perm: int = 128, n: int = 3, seed: int = 42
) -> Column:
    """[OPH signature, distinct sorted shingle hashes] as array<array<long>>
    in ONE tokenization pass (jvm/FastErUdfs.java::SigAndShingles) — the
    fused kernel for the LSH-then-verify path. [0] is bit-identical to
    oph_signature_jvm, [1] to shingle_hashes_jvm (parity-tested). Null for
    blank docs (oph contract). The caller must have run
    ensure_jvm_udfs(spark) first."""
    if num_perm < 2 or num_perm & (num_perm - 1):
        raise ValueError("num_perm must be a power of two >= 2 for OPH")
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.call_udf(
        _SIG_SH_UDF_NAME, col, F.lit(num_perm), F.lit(n), F.lit(seed).cast("long")
    )


def sorted_inter_union_jvm(a_col, b_col) -> Column:
    """(intersection_size << 32) | union_size of two SORTED-DISTINCT
    array<long> columns via one merge-scan (jvm/FastErUdfs.java::
    SortedInterUnion) — replaces the per-pair hash sets of
    array_intersect + array_union on the verify hot path. ONLY sound on
    ascending duplicate-free arrays (what shingle_hashes_jvm and
    sig_and_shingles_jvm emit); -1 when either side is null. The caller
    must have run ensure_jvm_udfs(spark) first."""
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    return F.call_udf(_INTER_UNION_UDF_NAME, a, b)


def shingle_hashes_jvm(text_col, n: int = 3, seed: int = 42) -> Column:
    """Distinct word-mode shingle hashes (sorted array<long>) computed in
    the executor JVM — the verify-stage twin of
    functions.shingles.hash_shingles_batch with a different (internal-only)
    hash family: intersection/union sizes are family-independent, which is
    all verification consumes. Blank/None -> empty array. The caller must
    have run ensure_jvm_udfs(spark) first."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.call_udf(_SHINGLE_UDF_NAME, col, F.lit(n), F.lit(seed).cast("long"))


def substring_anchors_jvm(
    text_col, anchor_len: int = 32, density: int = 8, seed: int = 42
) -> Column:
    """Distinct content-defined anchor hashes (sorted array<long>) via a
    true O(n) rolling hash in the executor JVM — the scale path for the
    substring pass (the interpreted per-position substring+hash expression
    measured ~4k docs/s). Selection is alignment-invariant: it depends only
    on the window's characters. The caller must have run
    ensure_jvm_udfs(spark) first."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.call_udf(
        _ANCHOR_UDF_NAME, col, F.lit(anchor_len), F.lit(density),
        F.lit(seed).cast("long"),
    )


def shares_span_jvm(a_col, b_col, k: int) -> Column:
    """Whether two texts share a common substring of at least ``k`` code
    points, i.e. ``oracle/kernels.py::lcs_len(a, b) >= k`` (jvm/LcsUdfs.java
    ::SharesSpan: a k-window hash table with every hit confirmed by code
    points, so exact). ``k <= 0`` is always true; a null side is false
    otherwise. The caller must have run ensure_jvm_udfs(spark) first."""
    a = F.col(a_col) if isinstance(a_col, str) else a_col
    b = F.col(b_col) if isinstance(b_col, str) else b_col
    return F.call_udf(_SHARES_SPAN_UDF_NAME, a, b, F.lit(int(k)))


def text_stats_jvm(text_col) -> Column:
    """[token_count, distinct_token_count, n_codepoints, n_kept_codepoints]
    as array<long>, one JIT-compiled pass per doc (jvm/TextUdfs.java) —
    exact value parity with the expression twin in oracle/kernels.py, so
    the DuckDB oracle twins hold. Null text -> null. The
    caller must have run ensure_jvm_udfs(spark) first."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.call_udf(_TEXT_STATS_UDF_NAME, col)


def rolling_fp_jvm(text_col) -> Column:
    """Rolling polynomial fingerprint (acc*31 + codepoint mod 1e9+7) — the
    compiled twin of the interpreted per-character F.aggregate in
    oracle/kernels.py (~8.4k docs/s at sf0.1; VERDICT r3 wrong #2).
    The caller must have run ensure_jvm_udfs(spark) first."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.call_udf(_ROLLING_FP_UDF_NAME, col)


def marker_counts_jvm(text_col, spec: str) -> Column:
    """Marker-token counts for every language in ``spec``
    ("lang:w1,w2|lang2:w1,...") in ONE tokenization pass, array<long> in
    spec order — replaces K interpreted F.filter passes. The caller must
    have run ensure_jvm_udfs(spark) first."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.call_udf(_MARKER_COUNTS_UDF_NAME, col, F.lit(spec))


def ngram_lang_id_jvm(text_col, spec: str) -> Column:
    """Cavnar-Trenkle n-gram language ID in the executor JVM
    (jvm/TextUdfs.java::NgramLangId): top-300 char 1..3-gram rank profile
    vs per-language profiles, out-of-place distance, argmin. ``spec`` from
    functions.text.ngram_profile_spec. The caller must have run
    ensure_jvm_udfs(spark) first."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.call_udf(_NGRAM_LANG_UDF_NAME, col, F.lit(spec))


def char_mask_jvm(col) -> Column:
    """64-bit char-multiset sketch of a BINARY column (jvm/JwUdfs.java::
    CharMask) — pass ``F.col(c).cast("binary")`` of a string column. Used
    by the pre-kernel candidate filter in scored_value_pairs; identical bit
    layout to functions/jw.py::char_mask_bytes. The caller must have run
    ensure_jvm_udfs(spark) first."""
    c = F.col(col) if isinstance(col, str) else col
    return F.call_udf(_CHAR_MASK_UDF_NAME, c)


def jw_level_jvm_bin(val_a, val_b, p: float, lower: float, upper: float) -> Column:
    """Banded Jaro-Winkler level (0/1/2) over BINARY columns, computed in
    the executor JVM (jvm/JwUdfs.java::Bin) with byte-exact reference
    semantics — the float operation order mirrors
    functions.jw.jaro_winkler_bytes, so levels can never disagree with the
    Python kernels. BinaryType crosses the Java-UDF bridge as byte[]
    directly, with no per-call transcoding. Pass ``col.cast("binary")`` of
    a string column (Spark's string->binary cast IS the UTF-8 bytes). The
    caller must have run ensure_jvm_udfs(spark) first."""
    a = F.col(val_a) if isinstance(val_a, str) else val_a
    b = F.col(val_b) if isinstance(val_b, str) else val_b
    return F.call_udf(
        _JW_BIN_UDF_NAME, a, b,
        F.lit(float(p)), F.lit(float(lower)), F.lit(float(upper)),
    )
