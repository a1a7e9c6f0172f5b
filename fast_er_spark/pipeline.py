"""End-to-end near-duplicate detection + clustering pipeline.

The north_rule pipeline: extract -> shingle/MinHash -> LSH candidates ->
exact verify -> substring anchor pass -> edges -> connected components, with
every stage CHECKPOINTED to a stage table (Iceberg when configured, parquet
otherwise) and recorded by one append to the ``_ledger`` table, the only
record of a finished stage. A run reads the ledger once and RESUMES a stage
it records under the same config fingerprint whose table exists, so a stage
killed between its write and its append is rebuilt. ``metrics()`` and
``lineage()`` are projections of the ledger.

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
from pyspark.sql import types as T

from .catalog import StageCatalog
from .functions.extract import extract_text_udf
from .operators.components import connected_components
from .operators.lsh import lsh_candidate_pairs
from .operators.substring import anchor_pairs, verify_anchor_pairs
from .operators.verify import verify_pairs_jaccard

__all__ = ["DedupConfig", "DedupPipeline"]

# read with this schema, so no inference job runs. A stage's append holds
# its partition rows and one summary row (part_id null), sharing one seq
LEDGER = ("seq long, stage string, config_fp string, part_id int, rows long, star long, "
          "wall_ms long, schema string, star_in long")


def _ledger_row(cols: dict) -> list:
    """The ledger's columns in order, null where ``cols`` gives none."""
    return [cols.get(c, F.lit(None)).cast(t).alias(c) for c, t in map(str.split, LEDGER.split(", "))]


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
    # must NOT merge two unrelated pages); 0 keeps every candidate
    substring_min_span: int = 96

    def fingerprint(self) -> str:
        # the retired mode/sketch/pregroup_exact/num_partitions fields stay
        # in the hash at the values every default run used, so a default
        # config keeps its fingerprint
        fields = {
            **asdict(self), "mode": "word", "sketch": "oph_jvm", "pregroup_exact": False,
            "num_partitions": None,
        }
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
        self._stars: dict[str, int | None] = {}  # this run's stages, fresh or resumed
        self._recorded: dict = {}  # stage -> its latest ledger append

    # ----------------------------------------------------------- plumbing
    def _stage_name(self, stage: str) -> str:
        return f"{stage}_{self.fp}"

    def _run_stage(self, stage: str, build, star_in: int | None = None) -> DataFrame:
        """Resume ``stage`` if the ledger records it and its table exists, or
        build and write it, then append its observed partition counts and a
        summary row (wall_ms of build + write, schema, star_in) in one job."""
        name = self._stage_name(stage)
        t0 = time.perf_counter()
        rec = self._recorded.get(stage)
        if rec is not None and self.catalog.exists(name):
            out = self.catalog.read(name, T.StructType.fromJson(json.loads(rec.schema)))
            self._stars[stage] = rec.star
            wall = int((time.perf_counter() - t0) * 1000)
            self.results.append(StageResult(stage, rec.rows_out, wall, True))
            return out
        preexisting = self._persistent_rdd_ids()
        out = self.catalog.write(build(), name)
        wall = int((time.perf_counter() - t0) * 1000)
        has_star = "is_star" in out.columns
        star = F.count_if("is_star") if has_star else F.lit(None)
        part = out.withColumn("part_id", F.spark_partition_id()).groupBy("part_id").agg(
            F.count(F.lit(1)).alias("rows"), star.cast("long").alias("star")
        )
        obs = Observation()
        part = part.observe(obs, F.sum("rows").alias("rows"), F.sum("star").alias("star"))
        key = {"seq": F.lit(time.time_ns()), "stage": F.lit(stage), "config_fp": F.lit(self.fp)}
        summary = {"rows": F.lit(0), "star": F.lit(0 if has_star else None), "wall_ms": F.lit(wall),
                   "schema": F.lit(out.schema.json()), "star_in": F.lit(star_in)}
        self.catalog.append(
            part.select(*_ledger_row({**key, **{c: F.col(c) for c in part.columns}}))
            .union(self.spark.range(1, numPartitions=1).select(*_ledger_row({**key, **summary}))),
            "_ledger",
        )
        got = {k: int(v or 0) for k, v in obs.get.items()}  # empty table: null sums
        self._stars[stage] = got["star"] if has_star else None
        self.results.append(StageResult(stage, got["rows"], wall, False))
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

    def _appends(self) -> DataFrame:
        """One row per append: summed rows and star, the summary's fields."""
        return self.catalog.read("_ledger", LEDGER).groupBy("seq", "stage", "config_fp").agg(
            F.sum("rows").alias("rows_out"), F.sum("star").alias("star"),
            *[F.max(c).alias(c) for c in ("wall_ms", "schema", "star_in")],
        )

    def _read_ledger(self) -> dict:
        """stage -> its latest append under this config, in one read."""
        appends = self._appends().where(F.col("config_fp") == self.fp).collect()
        return {r.stage: r for r in sorted(appends, key=lambda r: r.seq)}

    def metrics(self) -> DataFrame:
        """``(stage, config_fp, rows_out, wall_ms)`` per stage append, and per
        ``verified`` append its star-cap counters (lsh.py RECALL CAVEAT)."""
        appends = self._appends()
        starred, zero = appends.where(F.col("star_in").isNotNull()), F.lit(0).cast("long")
        return appends.select("stage", "config_fp", "rows_out", "wall_ms").union(
            starred.select(F.lit("star_candidates"), "config_fp", "star_in", zero)
        ).union(starred.select(
            F.lit("star_rejected_by_verify"), "config_fp", F.col("star_in") - F.col("star"), zero
        ))

    def lineage(self) -> DataFrame:
        """``(part_id, rows, stage, config_fp)`` per written stage partition."""
        return self.catalog.read("_ledger", LEDGER).where(F.col("part_id").isNotNull()).select(
            "part_id", "rows", "stage", "config_fp"
        )

    # --------------------------------------------------------------- run
    def run(self, corpus: DataFrame, resume: bool = True) -> DataFrame:
        c = self.config
        self._stars.clear()
        self._recorded = self._read_ledger() if resume and self.catalog.exists("_ledger") else {}

        def build_input():
            df = corpus
            if c.html_col is not None:
                df = df.withColumn(c.text_col, extract_text_udf()(F.col(c.html_col)))
            return df.select(
                F.col(c.id_col).cast("long").alias("id"), F.col(c.text_col).alias("text")
            )

        docs = self._run_stage("input", build_input)

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
                docs, "id", "text",
                num_perm=c.num_perm, bands=c.bands, rows_per_band=c.rows_per_band,
                n=c.ngram, seed=c.seed, max_bucket_size=c.max_bucket_size, mark_star=True,
            ),
        )

        verified = self._run_stage(
            "verified",
            lambda: verify_pairs_jaccard(
                cand, docs, "id", "text", n=c.ngram, threshold=c.threshold
            ),
            star_in=self._stars["candidates"],
        )

        edge_df = verified.select("id_a", "id_b")
        if c.substring_pass:
            anchors = self._run_stage(
                "substring_edges",
                lambda: anchor_pairs(
                    docs, "id", "text",
                    anchor_len=c.anchor_len, density=c.anchor_density,
                ),
            )
            # anchor collisions are candidates, not edges: only pairs with
            # an exact shared span >= min_span may merge clusters
            sub = self._run_stage(
                "substring_verified",
                lambda: verify_anchor_pairs(
                    anchors, docs, "id", "text", min_span=c.substring_min_span
                ),
            )
            edge_df = edge_df.unionByName(sub.select("id_a", "id_b")).dropDuplicates(
                ["id_a", "id_b"]
            )

        edges = self._run_stage("edges", lambda: edge_df)

        return self._run_stage(
            "clusters", lambda: connected_components(edges, nodes=docs.select("id"))
        )
