"""End-to-end near-duplicate detection + clustering pipeline.

The north_rule pipeline: extract -> shingle/MinHash -> LSH candidates ->
exact verify -> substring anchor pass -> edges -> connected components, with
every stage CHECKPOINTED to a stage table (Iceberg when configured, parquet
otherwise), per-stage + per-partition lineage/metrics tables, and mid-run
RESUME: a stage whose output exists under the same config fingerprint is read
back instead of recomputed.

Scale design notes (10^12-doc targets):
- every stage is a pure DataFrame transform; stage boundaries are exactly the
  shuffle boundaries (LSH bucket join, pair dedup, CC iterations), so
  checkpointing doubles as shuffle-failure containment;
- candidates/verify are per-bucket local; the only global structures are the
  edge list (O(dups)) and the component labels (O(docs));
- hot buckets are star-capped in lsh.py; AQE skew-join covers the verify
  joins; CC is large-star/small-star (O(log^2) rounds).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import StageCatalog
from .functions.extract import extract_text_udf
from .operators.components import connected_components
from .operators.lsh import lsh_candidate_pairs
from .operators.pregroup import pregroup_exact
from .operators.substring import anchor_pairs, verify_anchor_pairs
from .operators.verify import verify_pairs_jaccard

__all__ = ["DedupConfig", "DedupPipeline"]


@dataclass
class DedupConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    html_col: str | None = None  # set to extract text from html binary
    num_perm: int = 128
    bands: int = 32
    rows_per_band: int = 4
    # word shingles, signed by the compiled JVM OPH kernel: verification
    # (verify_pairs_jaccard) always shingles words, so the sketch must too
    ngram: int = 3
    threshold: float = 0.8
    seed: int = 42
    max_bucket_size: int = 2000
    substring_pass: bool = True
    anchor_len: int = 32
    anchor_density: int = 8
    # anchor candidates only become edges after an exact longest-common-
    # substring check >= this many chars (one shared boilerplate sentence
    # must NOT merge two unrelated pages); 0 disables verification
    substring_min_span: int = 96
    num_partitions: int | None = None
    # collapse byte-identical texts before the sketch path (operators/
    # pregroup.py): same cluster assignments, pair list star-compressed
    # within identical-text groups, expensive stages shrink by the exact-dup
    # fraction (30-50% on web corpora)
    pregroup_exact: bool = False

    def fingerprint(self) -> str:
        # the retired mode/sketch fields stay in the hash at the values every
        # run used, so stage tables written before their removal still resume
        fields = {**asdict(self), "mode": "word", "sketch": "oph_jvm"}
        return hashlib.sha256(json.dumps(fields, sort_keys=True).encode()).hexdigest()[:16]


@dataclass
class StageResult:
    name: str
    rows: int
    wall_ms: int
    resumed: bool


class DedupPipeline:
    """Checkpointed dedup pipeline over a corpus DataFrame.

    ``run()`` returns the cluster-assignment DataFrame (id, component);
    intermediate stage tables live under ``workdir`` and are reused on
    re-runs with the same config fingerprint (resume-from-checkpoint).
    """

    STAGES = (
        "input", "candidates", "verified", "substring_edges",
        "substring_verified", "edges", "clusters",
    )

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        config: DedupConfig | None = None,
        iceberg_catalog: str | None = None,
    ):
        self.spark = spark
        self.config = config or DedupConfig()
        self.catalog = StageCatalog(spark, workdir, iceberg_catalog)
        self.fp = self.config.fingerprint()
        self.results: list[StageResult] = []
        self._stars: dict[str, int | None] = {}  # observed on this run's fresh stages

    # ----------------------------------------------------------- plumbing
    def _stage_name(self, stage: str) -> str:
        return f"{stage}_{self.fp}"

    def _run_stage(self, stage: str, build, resume: bool, counters=None) -> DataFrame:
        """Resume a stage table, or build and write it, then run two actions:
        the ``_lineage`` append, observed for the row and star counts, and
        the ``_metrics`` append, with the ``(name, value)`` ``counters()``."""
        name = self._stage_name(stage)
        t0 = time.perf_counter()
        if resume and self.catalog.exists(name):
            df = self.catalog.read(name)
            self.results.append(
                StageResult(stage, df.count(), int((time.perf_counter() - t0) * 1000), True)
            )
            return df
        preexisting = self._persistent_rdd_ids()
        out = self.catalog.write(build(), name)
        star = [F.count_if("is_star").alias("star")] if "is_star" in out.columns else []
        part = out.withColumn("part_id", F.spark_partition_id()).groupBy("part_id").agg(
            F.count(F.lit(1)).alias("rows"), *star
        )
        obs = Observation()
        part = part.observe(obs, *[F.sum(c).alias(c) for c in part.columns[1:]])
        tags = [F.lit(stage).alias("stage"), F.lit(self.fp).alias("config_fp")]
        self.catalog.append(part.select("part_id", "rows", *tags), "_lineage")
        got = {k: int(v or 0) for k, v in obs.get.items()}  # empty table: null sums
        rows, self._stars[stage] = got["rows"], got.get("star")
        wall = int((time.perf_counter() - t0) * 1000)
        self.results.append(StageResult(stage, rows, wall, False))
        extra = [(k, v, 0) for k, v in counters()] if counters else []
        self.catalog.append(self._metrics_rows([(stage, rows, wall), *extra]), "_metrics")
        self._drop_stage_blocks(preexisting)
        return out

    def _persistent_rdd_ids(self) -> set:
        # no fallback: an empty set would unpersist caller-owned caches too
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: SLF001

    def _drop_stage_blocks(self, preexisting: set) -> None:
        """Unpersist RDDs this stage created once its table is durable.

        Stage builds localCheckpoint intermediate frames (verify's shingle
        frame, CC iterations); those blocks stay pinned in
        storage memory for the REST of the session and squeeze later
        stages' execution memory — measured 15 s -> 28 s for the anchor
        stage once the LSH stages' blocks were resident. Downstream stages
        only consume the durable stage tables, so nothing recomputes.

        Only RDDs that appeared DURING the stage build are dropped:
        unpersisting everything in the context would silently evict
        caller-owned caches in a shared session, and for a caller's
        localCheckpoint'ed frame (lineage truncated) later actions would
        fail with unrecoverable missing-block errors."""
        try:
            jmap = self.spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
            for rid in jmap.keySet():
                if rid not in preexisting:
                    jmap.get(rid).unpersist()
        except Exception:
            pass  # cleanup is best-effort; never fail the pipeline for it

    def _metrics_rows(self, facts: list[tuple[str, int, int]]) -> DataFrame:
        """``(stage, rows_out, wall_ms)`` rows as one LITERAL-expression
        frame — createDataFrame of a list plans a single-task Python-RDD
        job (~1-2 s of fixed latency each; PERF.md round 4 "tiny-frame
        rule"). A counter's row carries its value in rows_out, wall_ms 0."""
        return self.spark.range(1, numPartitions=1).select(F.inline(F.array(*[
            F.struct(F.lit(s).alias("stage"), F.lit(self.fp).alias("config_fp"),
                     F.lit(r).cast("long").alias("rows_out"),
                     F.lit(w).cast("long").alias("wall_ms"))
            for s, r, w in facts
        ])))

    def metrics(self) -> DataFrame:
        return self.catalog.read("_metrics")

    def lineage(self) -> DataFrame:
        return self.catalog.read("_lineage")

    # --------------------------------------------------------------- run
    def run(self, corpus: DataFrame, resume: bool = True) -> DataFrame:
        c = self.config
        self._stars.clear()

        def build_input():
            df = corpus
            if c.html_col is not None:
                df = df.withColumn(c.text_col, extract_text_udf()(F.col(c.html_col)))
            return df.select(
                F.col(c.id_col).cast("long").alias("id"), F.col(c.text_col).alias("text")
            )

        docs = self._run_stage("input", build_input, resume)

        if c.pregroup_exact:
            # build the (reps, edges) pair ONCE; the two stage closures share
            # it lazily so the fingerprint window shuffle runs a single time
            pre = pregroup_exact(docs, "id", "text")
            sketch_docs = self._run_stage("pregroup_reps", lambda: pre[0], resume)
            exact_edges = self._run_stage("pregroup_edges", lambda: pre[1], resume)
        else:
            sketch_docs, exact_edges = docs, None

        # NOT fused through a sketch stage table, deliberately (negative
        # result, this round): staging the fused (minhash, sh) frame and
        # feeding candidates/verify from it measured ~2x SLOWER end-to-end
        # at 100k docs (verify 13.9 s -> 57.3 s in the clean A/B trial) —
        # the parquet re-reads of the wide shingle arrays and the join
        # strategy they induce cost far more than the second tokenization
        # pass they save. The entry queries fuse via an IN-MEMORY lazy
        # checkpoint instead (operators/lsh.fused_sketch_frame), where it
        # measured faster; the pipeline keeps stage isolation + the cheap
        # per-stage kernels.
        cand = self._run_stage(
            "candidates",
            lambda: lsh_candidate_pairs(
                sketch_docs, "id", "text",
                num_perm=c.num_perm, bands=c.bands, rows_per_band=c.rows_per_band,
                n=c.ngram, seed=c.seed,
                max_bucket_size=c.max_bucket_size, num_partitions=c.num_partitions,
                mark_star=True,
            ),
            resume,
        )

        def star_counters():
            # star-cap recall telemetry (lsh.py RECALL CAVEAT): star-only
            # candidates rejected by verification are pairs a hot bucket
            # proposed across clusters, where TRUE dup pairs lost to caps
            # show first. None without is_star (pre-telemetry tables).
            kept = self._stars["verified"]
            if kept is None or "is_star" not in cand.columns:
                return []
            n_star = self._stars.get("candidates")
            if n_star is None:  # candidates resumed: one count on its table
                n_star = cand.where(F.col("is_star")).count()
            return [("star_candidates", n_star), ("star_rejected_by_verify", n_star - kept)]

        verified = self._run_stage(
            "verified",
            lambda: verify_pairs_jaccard(
                cand, sketch_docs, "id", "text", n=c.ngram, threshold=c.threshold
            ),
            resume,
            star_counters,
        )

        edge_frames = [verified.select("id_a", "id_b")]
        if c.substring_pass:
            sub = self._run_stage(
                "substring_edges",
                lambda: anchor_pairs(
                    sketch_docs, "id", "text",
                    anchor_len=c.anchor_len, density=c.anchor_density,
                ),
                resume,
            )
            if c.substring_min_span > 0:
                # anchor collisions are candidates, not edges: only pairs
                # with an exact shared span >= min_span may merge clusters
                sub = self._run_stage(
                    "substring_verified",
                    lambda: verify_anchor_pairs(
                        sub, sketch_docs, "id", "text", min_span=c.substring_min_span
                    ),
                    resume,
                )
            edge_frames.append(sub.select("id_a", "id_b"))
        if exact_edges is not None:
            edge_frames.append(exact_edges.select("id_a", "id_b"))

        def build_edges():
            out = edge_frames[0]
            for f in edge_frames[1:]:
                out = out.unionByName(f)
            return out.dropDuplicates(["id_a", "id_b"]) if len(edge_frames) > 1 else out

        edges = self._run_stage("edges", build_edges, resume)

        clusters = self._run_stage(
            "clusters",
            lambda: connected_components(edges, nodes=docs.select("id")),
            resume,
        )
        return clusters
