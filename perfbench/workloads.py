"""The benchmark's workloads.

A workload builds its inputs from the seed (``make_inputs``, while Spark
starts; it also starts computing the expected outputs in the background),
reads them into Spark (``load``) and exposes its timed operations by key: ``keys`` is one pass in order,
``run(key, tracer, warm)`` times one operation and returns its wall and
output, and ``check(key, output)`` verifies that output outside the timed
region. ``warm=True`` marks the untimed cold pass in set-up, whose outputs
the entry queries collect and check (their measured passes write to a noop
sink).
``summary(cpu)`` turns the per-key CPU seconds of the measured passes into
the workload's end-to-end metrics, from each key's median.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import oracles

HERE = os.path.dirname(os.path.abspath(__file__))


def _median_sum(cpu: dict[str, list[float]], keys) -> float:
    """Sum over ``keys`` of each key's median CPU seconds."""
    return sum(statistics.median(cpu[k]) for k in keys)


def write_parquet(path: str, columns: dict) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path)
    return path


class Corpus:
    """One seeded fixtures.synth.pages corpus, written as parquet."""

    def __init__(self, path: str, n: int, seed: int):
        from fixtures.synth import pages

        rows, self.planted, self.groups = pages(n=n, seed=seed)
        self.n, self.path = n, path
        self.file = write_parquet(
            os.path.join(path, "part-0.parquet"),
            {"doc_id": [r["doc_id"] for r in rows], "text": [r["text"] for r in rows]},
        )
        self.df = None


class DedupPages:
    """DedupPipeline.run with the default DedupConfig and a fresh workdir
    over fixtures.synth.pages(n, seed), through collected (id, component).
    The untimed cold pass runs over a corpus a tenth the size: it warms the
    same code paths for less set-up time."""

    name = "dedup_pages"
    keys = ["pipeline"]

    def __init__(self, workdir: str, seed: int, smoke: bool):
        self.workdir, self.seed = workdir, seed
        self.n = 500 if smoke else 20000
        self.quality: dict[str, list[float]] = {}
        self.ratios: dict[str, list[float]] = {}
        self.oracle = None
        self._exact: dict[str, set] | None = None

    def make_inputs(self) -> None:
        self.corpus = Corpus(os.path.join(self.workdir, "corpus"), self.n, self.seed)
        self.warm_corpus = Corpus(
            os.path.join(self.workdir, "warm-corpus"), max(self.n // 10, 200), self.seed
        )
        # The exact Jaccard pairs of both corpora, searched in a child process
        # during set-up: its memory stays out of this process's peak. A
        # plain subprocess, since a multiprocessing pool leaves its resource
        # tracker running after this process exits.
        self.oracle = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracles.py"),
             self.corpus.file, self.warm_corpus.file],
            stdout=subprocess.PIPE,
        )

    def load(self, spark) -> None:
        self.spark = spark
        for c in (self.corpus, self.warm_corpus):
            c.df = spark.read.parquet(c.path)

    def exact(self, corpus: Corpus) -> set[tuple[int, int]]:
        if self._exact is None:
            out, _ = self.oracle.communicate()
            if self.oracle.returncode:
                raise subprocess.CalledProcessError(self.oracle.returncode, self.oracle.args)
            self._exact = dict(zip([self.corpus.path, self.warm_corpus.path], pickle.loads(out)))
        return self._exact[corpus.path]

    def run(self, key: str, tracer, warm: bool = False):
        from fast_er_spark.pipeline import DedupPipeline

        corpus = self.warm_corpus if warm else self.corpus
        stage_dir = tempfile.mkdtemp(dir=self.workdir, prefix="stages-")
        try:
            t0 = time.perf_counter()
            pipe = DedupPipeline(self.spark, stage_dir)
            rows = pipe.run(corpus.df).collect()
            wall = time.perf_counter() - t0
        except BaseException:
            shutil.rmtree(stage_dir, ignore_errors=True)
            raise
        return wall, (rows, pipe, stage_dir, corpus)

    def _record_ratios(self, pipe, stage_dir: str) -> None:
        rows = {r.name: r.rows for r in pipe.results}
        star = sum(
            r["rows_out"] for r in pipe.metrics().where("stage = 'star_candidates'").collect()
        )
        written = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(stage_dir) for f in fs
        )
        for k, v in {
            "lsh.useful_ratio": oracles.share(rows["verified"], rows["candidates"]),
            "lsh.star_share": oracles.share(star, rows["candidates"]),
            "substring.useful_ratio": oracles.share(
                rows.get("substring_verified", 0), rows.get("substring_edges", 0)
            ),
            "catalog.bytes_written_mb": written / float(1 << 20),
        }.items():
            self.ratios.setdefault(k, []).append(v)

    def check(self, key: str, out) -> bool:
        rows, pipe, stage_dir, corpus = out
        try:
            if corpus is self.corpus:
                self._record_ratios(pipe, stage_dir)
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)
        labels = {int(r["id"]): int(r["component"]) for r in rows}
        complete = len(labels) == len(rows) == corpus.n and set(labels) == set(corpus.groups)
        if not complete:
            return False
        recall = oracles.pair_recall(self.exact(corpus), labels)
        together, planted_together = oracles.co_clustered_pairs(labels, corpus.groups)
        precision = oracles.share(planted_together, together)
        if corpus is self.corpus:
            for k, v in {
                "dup_pair_recall": recall,
                "cluster_precision": precision,
                "link_precision": precision,
                "link_recall": oracles.pair_recall(corpus.planted, labels),
            }.items():
                self.quality.setdefault(k, []).append(v)
        return recall >= 0.99 and precision >= 0.99

    def summary(self, cpu: dict[str, list[float]]) -> dict[str, float]:
        pass_cpu = _median_sum(cpu, self.keys)
        out = {
            "docs_per_cpu_s": self.n / pass_cpu,
            "pairs_per_cpu_s": self.n * (self.n - 1) / 2 / pass_cpu,
            "pass_cpu_s": pass_cpu,
        }
        out.update({k: min(v) for k, v in self.quality.items()})
        return out

    def layer_extras(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.ratios.items()}

    def close(self) -> None:
        if self.oracle is not None and self.oracle.returncode is None:
            self.oracle.kill()
            self.oracle.communicate()


# the frozen bench.py headline, in its order
HEADLINE = [
    "minhash_lsh_dedup", "cc_clusters", "token_jaccard_pairs", "exact_dedup_pairs",
    "substring_anchor_pairs", "fs_pattern_counts", "fuzzy_jw_supplier",
    "linkage_transform", "tokenstats", "doc_fingerprint", "lang_id",
    "embedding_topk", "embedding_near_dup_lsh", "curation_pipeline",
    "events_hourly", "tpch_q1", "top_customers", "orders_running_sum",
]
# the throughputs sum over several queries each: one sub-second query's
# time varies by up to a third between runs of the benchmark
DOC_QUERIES = [  # scan the documents table
    "minhash_lsh_dedup", "cc_clusters", "token_jaccard_pairs", "exact_dedup_pairs",
    "substring_anchor_pairs", "tokenstats", "doc_fingerprint", "lang_id",
    "curation_pipeline",
]
DOC_PAIR_QUERIES = [  # answer over all document pairs
    "minhash_lsh_dedup", "token_jaccard_pairs", "exact_dedup_pairs", "substring_anchor_pairs",
]
LINKAGE_QUERIES = ["fs_pattern_counts", "fuzzy_jw_supplier", "linkage_transform"]
EMB_THRESHOLD = 0.9
# float cosine vs the operator's integer-quantized cosine
EMB_MARGIN = 0.02


class EntryQueries:
    """The 18 bench.py headline queries on the vendored testdata, each to a
    noop sink, with bench.py's rigs for cc_clusters (components over the
    checkpointed minhash pairs) and embedding_near_dup_lsh (production
    config over a clustered fixture the size of the embeddings table)."""

    name = "entry_queries"
    keys = HEADLINE

    def __init__(self, workdir: str, seed: int, smoke: bool):
        self.workdir, self.seed = workdir, seed
        self.data = os.path.join(HERE, "data", "sf0.001" if smoke else "sf0.01")
        self.quality: dict[str, float] = {}
        self.pairs_ckpt = None
        self.pool = None

    def make_inputs(self) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from fixtures.synth import embeddings

        emb = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
        self.emb_dim = len(emb.column("embedding")[0])
        rows, _ = embeddings(n=emb.num_rows, dim=self.emb_dim, dup_frac=0.3, seed=self.seed)
        self.emb_vecs = np.array([v for _, v, _ in rows])
        self.emb_path = write_parquet(
            os.path.join(self.workdir, "emb", "part-0.parquet"),
            {
                "vec_id": pa.array([i for i, _, _ in rows], type=pa.int64()),
                "embedding": pa.array([v for _, v, _ in rows], type=pa.list_(pa.float32())),
            },
        )
        docs = pq.read_table(os.path.join(self.data, "documents.parquet"), columns=["doc_id"])
        sup = pq.read_table(os.path.join(self.data, "supplier.parquet"), columns=["s_suppkey"])
        keys = sup.column("s_suppkey").to_pylist()
        n_sup, n_even = len(keys), sum(k % 2 == 0 for k in keys)
        self.n_docs = docs.num_rows
        # fs_pattern_counts and fuzzy_jw_supplier score the supplier lower
        # triangle; linkage_transform links even against odd keys
        self.pairs = (
            len(DOC_PAIR_QUERIES) * self.n_docs * (self.n_docs - 1) // 2
            + n_sup * (n_sup - 1) + n_even * (n_sup - n_even)
        )
        # the expected outputs, computed in a thread during set-up
        self.pool = ThreadPoolExecutor(1)
        self.expected = self.pool.submit(self._expected)

    def _expected(self):
        o = oracles.EntryOracle(self.data)
        for q in self.keys:
            if q != "fuzzy_jw_supplier":
                o.frame(q)
        jw = o.jw_levels()
        cos = oracles.cosine_pairs(self.emb_vecs, EMB_THRESHOLD, EMB_MARGIN)
        return o, jw, cos

    def load(self, spark) -> None:
        import __spark_entry__

        self.spark = spark
        self.qmap = __spark_entry__.queries()
        self.emb = spark.read.parquet(os.path.dirname(self.emb_path)).localCheckpoint(eager=True)

    def _build(self, q: str):
        from fast_er_spark.operators.components import connected_components
        from fast_er_spark.operators.similarity import embedding_near_dup_pairs

        if q == "cc_clusters":
            docs = self.spark.read.parquet(os.path.join(self.data, "documents.parquet"))
            return connected_components(self.pairs_ckpt, nodes=docs.selectExpr("doc_id as id"))
        if q == "embedding_near_dup_lsh":
            return embedding_near_dup_pairs(
                self.emb, dim=self.emb_dim, threshold=EMB_THRESHOLD, seed=42
            )
        return self.qmap[q](self.spark, self.data)

    def run(self, q: str, tracer, warm: bool = False):
        span = tracer.span if tracer is not None else (lambda _: nullcontext())
        t0 = time.perf_counter()
        with span(f"entry.{q}.build"):
            df = self._build(q)
        out = None
        with span(f"entry.{q}.exec"):
            if q == "minhash_lsh_dedup":
                # cc_clusters consumes these checkpointed pairs, as the
                # pipeline consumes its verified stage table
                df = self.pairs_ckpt = df.localCheckpoint(eager=True)
                if warm:
                    out = df.toPandas()
            elif warm:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, out

    def check(self, q: str, out) -> bool:
        if out is None:
            return True  # measured passes write to a noop sink
        o, jw, (sure, allowed) = self.expected.result()
        if q == "fuzzy_jw_supplier":
            got = {tuple(int(x) for x in r) for r in out[["id_a", "id_b", "level"]].itertuples(index=False)}
            return got == jw
        if q == "embedding_near_dup_lsh":
            got = {(int(a), int(b)) for a, b in out[["id_a", "id_b"]].itertuples(index=False)}
            return got <= allowed and oracles.share(len(sure & got), len(sure)) >= 0.99
        if q == "minhash_lsh_dedup":
            want = o.frame(q)
            want_pairs = set(zip(want["id_a"], want["id_b"]))
            got_pairs = set(zip(out["id_a"], out["id_b"]))
            self.quality["dup_pair_recall"] = oracles.share(len(got_pairs & want_pairs), len(want_pairs))
        if q == "cc_clusters":
            want = o.frame(q)
            got = dict(zip(out["id"].astype(int), out["component"].astype(int)))
            truth = dict(zip(want["id"].astype(int), want["component"].astype(int)))
            if set(got) != set(truth):
                return False
            together, right = oracles.co_clustered_pairs(got, truth)
            self.quality["cluster_precision"] = oracles.share(right, together)
        if q == "linkage_transform":
            want = o.frame(q)
            want_pairs = set(zip(want["index_a"], want["index_b"]))
            got_pairs = set(zip(out["index_a"], out["index_b"]))
            hit = len(got_pairs & want_pairs)
            self.quality["link_precision"] = oracles.share(hit, len(got_pairs))
            self.quality["link_recall"] = oracles.share(hit, len(want_pairs))
        return o.same(q, out)

    def summary(self, cpu: dict[str, list[float]]) -> dict[str, float]:
        out = {
            "docs_per_cpu_s": self.n_docs * len(DOC_QUERIES) / _median_sum(cpu, DOC_QUERIES),
            "pairs_per_cpu_s": self.pairs / _median_sum(cpu, DOC_PAIR_QUERIES + LINKAGE_QUERIES),
            "pass_cpu_s": _median_sum(cpu, self.keys),
        }
        out.update(self.quality)
        return out

    def layer_extras(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        if self.pool is not None:
            self.pool.shutdown(cancel_futures=True)
            if self.expected.done() and not self.expected.exception():
                self.expected.result()[0].close()


WORKLOADS = {w.name: w for w in (DedupPages, EntryQueries)}
