"""Structured Streaming dedup operators.

The reference is batch-only (SURVEY.md §2: no streaming anywhere), so this is
an engine EXTENSION for continuous ingestion: as new pages land, drop exact
repeats and surface near-dup candidates against the in-stream window.

- ``streaming_exact_dedup``: content-fingerprint dropDuplicates with an
  event-time watermark — state is bounded by the watermark horizon, the
  standard production pattern for exact dedup on a firehose.
- ``streaming_dup_rate``: tumbling-window duplicate-rate monitoring
  (watermarked windowed agg) — the pipeline-health metric a 100 TB ingest
  job alarms on.

Both are pure readStream-compatible transforms; tests drive them with a file
source + availableNow trigger (micro-batch replay of the fixture corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["streaming_exact_dedup", "streaming_dup_rate", "streaming_near_dup"]


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First occurrence of each content fingerprint within the watermark
    horizon; later exact repeats are dropped. State size ~ distinct docs per
    horizon, not per stream lifetime."""
    fp = F.xxhash64(F.col(text_col))
    return (
        stream.withColumn("content_fp", fp)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_fp"])
    )


def streaming_dup_rate(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """(window, n_docs, n_distinct, dup_rate) per tumbling event-time window."""
    return (
        stream.withColumn("content_fp", F.xxhash64(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.approx_count_distinct("content_fp").alias("n_distinct"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_docs",
            "n_distinct",
            F.round(1.0 - F.col("n_distinct") / F.col("n_docs"), 4).alias("dup_rate"),
        )
    )


def streaming_near_dup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "warc_ts",
    num_perm: int = 128,
    bands: int = 32,
    rows_per_band: int = 4,
    n: int = 3,
    mode: str = "word",
    seed: int = 42,
    watermark: str = "1 hour",
    min_est: float = 0.5,
    max_bucket_state: int = 256,
) -> DataFrame:
    """Streaming NEAR-duplicate candidates via stateful LSH
    (applyInPandasWithState — the custom stateful operator path).

    Each incoming page is MinHash-signed and banded exactly like the batch
    pipeline (the shingle ``mode`` picks the kernel; blank docs sign NULL
    under both kernels and emit no band keys); state lives per
    (band, bucket) and holds the ids + full signatures of up to
    ``max_bucket_state`` docs seen within the watermark horizon (event-time
    timeout expires idle buckets, so state is bounded by horizon x bucket
    fan-out, never stream lifetime). A new page colliding with a stored
    signature at estimated Jaccard >= ``min_est`` emits (id, prior_id,
    est_jaccard, band) — candidates, to be exact-verified downstream exactly
    like the batch sketch-then-verify contract. A pair colliding in several
    bands emits several rows; dedupe on (id, prior_id).
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.lsh import band_hash_array, with_minhash_signature

    horizon_ms = _duration_ms(watermark)

    signed = with_minhash_signature(
        stream.withWatermark(ts_col, watermark), text_col, num_perm, n, mode, seed
    )
    # one generator select keeps ts+minhash alongside the band keys, so the
    # signature UDF runs exactly once (a band_buckets + self-join would
    # re-evaluate the UDF per consumer — PERF.md)
    banded = signed.select(
        F.col(id_col).alias("id"),
        F.col(ts_col).alias("ts"),
        "minhash",
        F.posexplode(band_hash_array("minhash", bands, rows_per_band)).alias("band", "bucket"),
    )

    out_type = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("prior_id", T.LongType()),
        T.StructField("est_jaccard", T.DoubleType()),
        T.StructField("band", T.IntegerType()),
    ])
    state_type = T.StructType([
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.BinaryType()),
    ])

    def flag(key, pdfs, state: GroupState):
        import numpy as np

        if state.hasTimedOut:
            state.remove()
            return
        band = int(key[0])
        if state.exists:
            ids, sigb = state.get
            ids = list(ids)
            sigs = np.frombuffer(sigb, dtype=np.int64).reshape(-1, num_perm)
        else:
            ids, sigs = [], np.empty((0, num_perm), dtype=np.int64)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts", kind="mergesort")
            # preallocate ONCE per chunk and append by index: the old
            # per-row np.vstack recopied the whole state matrix for every
            # arriving doc (O(n^2) memory traffic within a hot bucket)
            cur = len(ids)
            arr = np.empty((cur + len(pdf), num_perm), dtype=np.int64)
            arr[:cur] = sigs
            pos = cur
            for row in pdf.itertuples(index=False):
                sig = np.asarray(row.minhash, dtype=np.int64)
                # the state cap applies DURING the loop too: compare only
                # against the newest max_bucket_state rows
                lo = max(0, pos - max_bucket_state)
                if pos > lo:
                    est = (arr[lo:pos] == sig[None, :]).mean(axis=1)
                    j = int(est.argmax())
                    if est[j] >= min_est and ids[lo + j] != row.id:
                        out.append((int(row.id), int(ids[lo + j]), float(est[j]), band))
                arr[pos] = sig
                ids.append(int(row.id))
                pos += 1
            sigs = arr
        if len(ids) > max_bucket_state:
            ids = ids[-max_bucket_state:]
            sigs = sigs[-max_bucket_state:]
        state.update((ids, sigs.tobytes()))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp((wm if wm > 0 else 0) + horizon_ms + 1)
        if out:
            yield pd.DataFrame(out, columns=["id", "prior_id", "est_jaccard", "band"])

    return (
        banded.groupBy("band", "bucket")
        .applyInPandasWithState(
            flag, out_type, state_type, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def _duration_ms(s: str) -> int:
    qty, unit = s.split()
    mult = {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]
    return int(qty) * mult
