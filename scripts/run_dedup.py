#!/usr/bin/env python
"""spark-submit entry point for the dedup pipeline (north_rule: "ships as
spark-submit --py-files on multi-executor clusters").

Cluster usage::

    zip -r fast_er_spark.zip fast_er_spark
    spark-submit --py-files fast_er_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/run_dedup.py \
        --input  s3://bucket/pages         `# (url, warc_ts, html, text, lang)` \
        --workdir s3://bucket/dedup_stages \
        --output s3://bucket/clusters \
        [--iceberg-catalog lake] [--threshold 0.8] [--html-col html] [--no-resume]

A rerun with the same ``--workdir`` and settings resumes from the stage
tables already written; ``--no-resume`` recomputes every stage.

Local smoke::

    python scripts/run_dedup.py --input /root/testdata/sf0.001/documents.parquet \
        --id-col doc_id --workdir /tmp/dedup_wd --output /tmp/dedup_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="near-duplicate detection + clustering")
    ap.add_argument("--input", required=True, help="parquet path of the pages")
    ap.add_argument("--workdir", required=True, help="stage-checkpoint location")
    ap.add_argument("--output", required=True, help="cluster assignment output")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--html-col", default=None, help="extract text from this binary col")
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--num-perm", type=int, default=128)
    ap.add_argument("--bands", type=int, default=32)
    ap.add_argument("--rows-per-band", type=int, default=4)
    ap.add_argument("--ngram", type=int, default=3)
    ap.add_argument("--max-bucket-size", type=int, default=2000)
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument("--iceberg-catalog", default=None)
    ap.add_argument("--no-substring-pass", action="store_true")
    ap.add_argument("--substring-min-span", type=int, default=96,
                    help="length (chars) of a verbatim span two docs must share "
                         "before a substring candidate may merge clusters; "
                         "0 keeps every candidate unverified")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from fast_er_spark.pipeline import DedupConfig, DedupPipeline

    spark = SparkSession.builder.appName("fast-er-spark-dedup").getOrCreate()
    cfg = DedupConfig(
        id_col=args.id_col,
        text_col=args.text_col,
        html_col=args.html_col,
        num_perm=args.num_perm,
        bands=args.bands,
        rows_per_band=args.rows_per_band,
        ngram=args.ngram,
        threshold=args.threshold,
        max_bucket_size=args.max_bucket_size,
        substring_pass=not args.no_substring_pass,
        substring_min_span=args.substring_min_span,
        num_partitions=args.num_partitions,
    )
    pipe = DedupPipeline(spark, args.workdir, cfg, iceberg_catalog=args.iceberg_catalog)
    corpus = spark.read.parquet(args.input)
    clusters = pipe.run(corpus, resume=not args.no_resume)
    clusters.write.mode("overwrite").parquet(args.output)
    print(json.dumps({
        "stages": [
            {"stage": s.name, "rows": s.rows, "wall_ms": s.wall_ms, "resumed": s.resumed}
            for s in pipe.results
        ],
        "output": args.output,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
