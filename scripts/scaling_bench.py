#!/usr/bin/env python
"""Scaling evidence: the same dedup job at two parallelism levels.

north_rule requires throughput scaling efficiency >= 0.8 between N and 4N
EXECUTORS. This sandbox has no real cluster, so two substitutes (per the
driver brief), most-representative first:

- ``executors`` mode (default): Spark local-cluster — real separate executor
  JVMs on this box. 2 executors x 4 cores vs 8 executors x 4 cores is
  literally N vs 4N executors, each with its own heap/GC/shuffle tree,
  exactly the topology the rule scales.
- ``threads`` mode: local[8] vs local[32] (one shared JVM). Pessimistic:
  a single JVM shares one allocator/GC/memory-bus across all task threads,
  which caps shuffle-heavy stages regardless of cores (see PERF.md).

Each level runs in its OWN subprocess; min-of-3 trials with /proc/stat CPU
steal per trial (this VM gets 50-350 s steal bursts from the hypervisor —
single samples are meaningless).

The measured job is the full dedup core: MinHash signatures -> LSH banding ->
candidate generation -> exact-Jaccard verify -> connected components, on a
deterministic synthetic corpus (vectorized generator below).

Usage: python scripts/scaling_bench.py [n_docs]
    [executors|executors2|topology|threads|linkage|linkage2|linkage_topology|
     cpu_control|cpu_control2]
The dedup modes sign with the compiled executor-JVM kernel: the driver needs
a JDK, and the jar ships to executors via the session file server exactly
like --jars.
Prints one JSON line; recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from fast_er_spark.operators.lsh import lsh_candidate_pairs
from fast_er_spark.operators.verify import verify_pairs_jaccard
from fast_er_spark.operators.components import connected_components

master, cores, data = sys.argv[1], int(sys.argv[2]), sys.argv[3]
# local-cluster[n,c,mem] sets WORKER capacity; executors still default to
# 1g and OOM-loop on big inputs unless spark.executor.memory is set
exec_mem = sys.argv[4] if len(sys.argv) > 4 else "7g"
# ship the package to executor python workers, spark-submit --py-files style
# (required in local-cluster mode: executors are separate JVMs whose python
# workers don't inherit the driver's sys.path)
import shutil, tempfile
pkg_zip = shutil.make_archive(
    os.path.join(tempfile.mkdtemp(), "fast_er_spark"), "zip",
    root_dir={repo!r}, base_dir="fast_er_spark",
)
spark = (SparkSession.builder.appName(f"scaling")
         .master(master)
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", "8g")
         .config("spark.executor.memory", exec_mem)
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.addPyFile(pkg_zip)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(data).repartition(2 * cores).cache()
n = docs.count()  # materialize cache: measure compute, not parquet read

t0 = time.perf_counter()
cand = lsh_candidate_pairs(docs, "id", "text", num_perm=128, bands=32,
                           rows_per_band=4, n=3, seed=42)
ver = verify_pairs_jaccard(cand, docs, "id", "text", n=3, threshold=0.8)
clusters = connected_components(ver, nodes=docs.select("id"))
clusters.write.format("noop").mode("overwrite").save()
wall = time.perf_counter() - t0
print(json.dumps({{"master": master, "cores": cores, "docs": n,
                   "wall_sec": round(wall, 2),
                   "docs_per_sec": round(n / wall, 1)}}))
spark.stop()
"""


LINKAGE_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import SparkSession, functions as F

master, cores, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
exec_mem = sys.argv[4] if len(sys.argv) > 4 else "7g"
import shutil, tempfile
pkg_zip = shutil.make_archive(
    os.path.join(tempfile.mkdtemp(), "fast_er_spark"), "zip",
    root_dir={repo!r}, base_dir="fast_er_spark",
)
spark = (SparkSession.builder.appName("scaling-linkage")
         .master(master)
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", "8g")
         .config("spark.executor.memory", exec_mem)
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.addPyFile(pkg_zip)
spark.sparkContext.setLogLevel("ERROR")
from fast_er_spark.linkage import Comparison, Estimation, Linkage
from fixtures.synth import voters

rows_a, rows_b = voters(n=n, overlap=0.5, seed=42)
df_a = spark.createDataFrame(pd.DataFrame(rows_a)).localCheckpoint()
df_b = spark.createDataFrame(pd.DataFrame(rows_b)).localCheckpoint()
FUZZY = ["last_name", "first_name", "house_number", "street_name"]
EXACT = ["birth_year"]
t0 = time.perf_counter()
comp = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT).fit()
est = Estimation(len(FUZZY), len(EXACT), comp.counts(), seed=13).fit()
linked = Linkage(None, None, comp, est.ksi).transform(0.85)
n_linked = linked.count()
wall = time.perf_counter() - t0
print(json.dumps({{"master": master, "cores": cores, "docs": n,
                   "n_linked": n_linked, "wall_sec": round(wall, 2),
                   "docs_per_sec": round(n / wall, 1)}}))
spark.stop()
"""


def synth_corpus(path: str, n: int, seed: int = 42) -> None:
    """Vectorized (numpy) corpus generator — same shape as fixtures.synth
    pages (token-salad docs + planted near/exact dups) but fast enough for
    the million-doc corpora the scaling run needs. ~30% of docs duplicate
    their predecessor with ~3% token mutations (Jaccard ~0.85-1.0)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(
        [f"w{i:04d}" for i in range(2000)] + ["the", "a", "of", "and", "data", "web"]
    )
    V = len(vocab)
    writer = None
    chunk = 100_000
    doc_id = 0
    try:
        while doc_id < n:
            m = min(chunk, n - doc_id)
            L = int(rng.integers(120, 220))
            ids = rng.integers(0, V, size=(m, L))
            dup_mask = rng.random(m) < 0.30
            dup_mask[0] = False
            rows_idx = np.nonzero(dup_mask)[0]
            ids[rows_idx] = ids[rows_idx - 1]
            n_mut = max(1, int(0.03 * L))
            for r in rows_idx[rng.random(len(rows_idx)) < 0.75]:  # 25% stay exact
                pos = rng.integers(0, L, size=n_mut)
                ids[r, pos] = rng.integers(0, V, size=n_mut)
            words = vocab[ids]
            texts = [" ".join(row) for row in words.tolist()]
            tbl = pa.table(
                {
                    "id": pa.array(range(doc_id, doc_id + m), type=pa.int64()),
                    "text": pa.array(texts),
                }
            )
            if writer is None:
                writer = pq.ParquetWriter(path, tbl.schema)
            writer.write_table(tbl)
            doc_id += m
    finally:
        if writer is not None:
            writer.close()


def _steal_sec() -> float:
    try:
        return int(open("/proc/stat").readline().split()[8]) / 100.0
    except Exception:
        return 0.0


def run_level(master: str, cores: int, data: str, trials: int = 3,
              exec_mem: str = "7g", template: str | None = None) -> dict:
    """Min-of-N trials with per-trial hypervisor-steal accounting."""
    script = (template or WORKER).format(repo=REPO)
    best = None
    samples = []
    for _ in range(trials):
        s0 = _steal_sec()
        out = subprocess.run(
            [sys.executable, "-c", script, master, str(cores), data, exec_mem],
            capture_output=True, text=True, timeout=2400,
        )
        stolen = round(_steal_sec() - s0, 1)
        line = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not line:
            raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")
        r = json.loads(line[-1])
        r["steal_sec"] = stolen
        samples.append({"wall_sec": r["wall_sec"], "steal_sec": stolen})
        if best is None or r["wall_sec"] < best["wall_sec"]:
            best = r
    best["trials"] = samples
    return best


MODES = {
    # mode: (low_master, low_cores, high_master, high_cores, exec_mem, label)
    # 1 vs 4 executors: the high level (16 task cores + GC/shuffle/python
    # aux threads) still fits the 32-core box, so neither level is starved —
    # 2-vs-8 executors oversubscribes the host and anti-scales (PERF.md).
    "executors": ("local-cluster[1,4,16384]", 4, "local-cluster[4,4,16384]", 16,
                  "14g", "1 executor x 4 cores vs 4 executors x 4 cores"),
    # executors2: same topology ratio at half the per-executor width, so the
    # 4N level uses 8 of 32 host cores — BELOW the shared-box knee where the
    # pure-CPU control itself stops scaling (cpu_control: 0.69 at 4->16
    # workers; memory bandwidth + one NVMe are shared by every extra core on
    # ONE box, where a real 4N-executor cluster adds them proportionally).
    # This is the closest this sandbox gets to "per-executor resources
    # constant", which is the regime the north_rule's >=0.8 assumes.
    "executors2": ("local-cluster[1,2,16384]", 2, "local-cluster[4,2,16384]", 8,
                   "14g", "1 executor x 2 cores vs 4 executors x 2 cores "
                   "(unsaturated host: 4N uses 8 of 32 cores)"),
    "threads": ("local[8]", 8, "local[32]", 32, "7g",
                "local[8] vs local[32], one JVM"),
    # topology: SAME total cores (8) at both levels — 1 executor x 8 cores
    # vs 4 executors x 2 cores. Box resources (membw, NVMe, co-tenant
    # interference) are held constant, so the ratio isolates the ONLY cost
    # the executor axis itself adds: cross-executor shuffle, per-executor
    # JVM/GC, coordination. This is the component of N->4N scaling the
    # ENGINE controls; the rest is hardware provisioning (cpu_control).
    "topology": ("local-cluster[1,8,16384]", 8, "local-cluster[4,2,16384]", 8,
                 "14g", "1 executor x 8 cores vs 4 executors x 2 cores "
                 "(same 8 host cores; ratio = multi-executor overhead only)"),
}


def cpu_control(n_tasks: int = 256, lo: int = 4, hi: int = 16) -> None:
    """Pure-CPU scaling control: the SAME sketch kernel work (shingle-hash +
    MinHash over synthetic docs) on a multiprocessing pool at ``lo`` vs
    ``hi`` workers — no JVM, no shuffle, no Spark. If this scales ~1.0 while
    the Spark job does not, the gap is shared-box memory bandwidth / shuffle
    IO, not the DAG."""
    import multiprocessing as mp
    import time

    sys.path.insert(0, REPO)
    results = {}
    for workers in (lo, hi):
        s0 = _steal_sec()
        t0 = time.perf_counter()
        with mp.get_context("spawn").Pool(workers) as pool:
            pool.map(_cpu_control_task, range(n_tasks))
        wall = time.perf_counter() - t0
        results[workers] = {
            "wall_sec": round(wall, 2),
            "docs_per_sec": round(n_tasks * 2000 / wall, 1),
            "steal_sec": round(_steal_sec() - s0, 1),
        }
    eff = results[hi]["docs_per_sec"] / ((hi // lo) * results[lo]["docs_per_sec"])
    print(json.dumps({
        "metric": f"cpu_control_scaling_{lo}_vs_{hi}_workers",
        "low": results[lo], "high": results[hi],
        "efficiency": round(eff, 3),
    }))


def _cpu_control_task(seed: int) -> int:
    import numpy as np
    import pandas as pd

    sys.path.insert(0, REPO)
    from fast_er_spark.functions.minhash import minhash_batch

    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(2000)])
    texts = pd.Series(
        [" ".join(vocab[rng.integers(0, 2000, 160)]) for _ in range(2000)]
    )
    return len(minhash_batch(texts, num_perm=128, n=3, mode="word", seed=42))


def linkage_scaling(n: int, trials: int = 2, mode: str = "executors") -> None:
    """The reference 100k x 100k linkage workload (scaled to ``n``) at 1 vs
    4 executors — the north_rule scaling evidence for the LINKAGE engine's
    shuffles (union+groupBy pattern assembly, JW candidate scoring, CUBE
    counts), complementing the dedup-job table. Fixed workload at both
    levels => efficiency = wall_lo / (4 * wall_hi)."""
    lo_master, lo_cores, hi_master, hi_cores, exec_mem, label = MODES[mode]
    core_ratio = hi_cores // lo_cores if hi_cores > lo_cores else 1
    lo = run_level(lo_master, lo_cores, str(n), trials=trials,
                   exec_mem=exec_mem, template=LINKAGE_WORKER)
    hi = run_level(hi_master, hi_cores, str(n), trials=trials,
                   exec_mem=exec_mem, template=LINKAGE_WORKER)
    eff = hi["docs_per_sec"] / (core_ratio * lo["docs_per_sec"])
    metric = (f"linkage_scaling_efficiency_Nx4_{mode}" if core_ratio > 1
              else f"linkage_multi_executor_overhead_{mode}")
    print(json.dumps({
        "metric": metric,
        "topology": label,
        "n_per_side": n,
        "low": lo,
        "high": hi,
        "efficiency": round(eff, 3),
        "target": 0.8,
    }))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    mode = sys.argv[2] if len(sys.argv) > 2 else "executors"
    if mode == "cpu_control":
        cpu_control()
        return
    if mode == "cpu_control2":
        cpu_control(lo=2, hi=8)
        return
    if mode == "linkage":
        linkage_scaling(n if len(sys.argv) > 1 else 30_000)
        return
    if mode == "linkage2":
        linkage_scaling(n if len(sys.argv) > 1 else 30_000, mode="executors2")
        return
    if mode == "linkage_topology":
        linkage_scaling(n if len(sys.argv) > 1 else 30_000, mode="topology")
        return
    lo_master, lo_cores, hi_master, hi_cores, exec_mem, label = MODES[mode]
    core_ratio = hi_cores // lo_cores if hi_cores > lo_cores else 1
    with tempfile.TemporaryDirectory(prefix="scaling_corpus_") as td:
        data = os.path.join(td, "corpus.parquet")
        synth_corpus(data, n)
        lo = run_level(lo_master, lo_cores, data, exec_mem=exec_mem)
        hi = run_level(hi_master, hi_cores, data, exec_mem=exec_mem)
    eff = hi["docs_per_sec"] / (core_ratio * lo["docs_per_sec"])
    metric = (f"dedup_scaling_efficiency_Nx4_{mode}" if core_ratio > 1
              else f"dedup_multi_executor_overhead_{mode}")
    print(json.dumps({
        "metric": metric,
        "topology": label,
        "n_docs": n,
        "low": lo,
        "high": hi,
        "efficiency": round(eff, 3),
        "target": 0.8,
    }))


if __name__ == "__main__":
    main()
