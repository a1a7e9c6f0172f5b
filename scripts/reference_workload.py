#!/usr/bin/env python
"""The reference's published benchmark workload, end to end on this engine.

Reference: /root/reference/example/Example.ipynb cells 3-7 — 100k x 100k
probabilistic linkage, 4 fuzzy variables (last_name, first_name,
house_number, street_name) + 1 exact (birth_year), defaults p=0.1,
thresholds 0.88/0.94, posterior cutoff 0.85. Published numbers (cell 5/7,
Colab T4 GPU): 28.4 s wall, precision 0.9802, recall 0.9983.

The reference's Rdata inputs are NC voter files this sandbox cannot fetch;
``fixtures.synth.voters`` reproduces the workload SHAPE (row counts, schema,
overlap, typo process, per-field cardinality profile) deterministically.
P/R are therefore comparable in kind, not digit-for-digit.

Each trial runs in its OWN subprocess (a fresh JVM): localCheckpoint blocks
from one trial would otherwise stay pinned and OOM the next. The timed
region matches the notebook's %%time cell: Comparison.fit + counts + EM +
Linkage.transform, through full materialization of the matched-pair
metrics. CPU steal (/proc/stat field 9) is recorded per trial; min-of-N is
the honest wall on this steal-prone VM.

Usage: python scripts/reference_workload.py [n] [trials]
Prints one JSON line; recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TRIAL = r"""
import json, os, sys, time
sys.path.insert(0, __REPO__)
import pandas as pd
from pyspark.sql import functions as F
from fast_er_spark.linkage import Comparison, Estimation, Linkage
from fast_er_spark.session import get_spark
from fixtures.synth import voters

n = int(sys.argv[1])
cpus = len(os.sched_getaffinity(0))
spark = get_spark("reference_workload", cpus=cpus, shuffle_partitions=2 * cpus)
spark.sparkContext.setLogLevel("ERROR")
rows_a, rows_b = voters(n=n, overlap=0.5, seed=42)
df_a = spark.createDataFrame(pd.DataFrame(rows_a)).localCheckpoint()
df_b = spark.createDataFrame(pd.DataFrame(rows_b)).localCheckpoint()
n_shared = len({r["ncid"] for r in rows_a} & {r["ncid"] for r in rows_b})

FUZZY = ["last_name", "first_name", "house_number", "street_name"]
EXACT = ["birth_year"]
t0 = time.perf_counter()
comp = Comparison(df_a, df_b, FUZZY, FUZZY, EXACT, EXACT).fit()
est = Estimation(len(FUZZY), len(EXACT), comp.counts(), seed=13).fit()
linked = Linkage(None, None, comp, est.ksi).transform(0.85)
agg = linked.agg(
    F.count(F.lit(1)).alias("n_linked"),
    F.sum((F.col("ncid_A") == F.col("ncid_B")).cast("long")).alias("n_true"),
).collect()[0]
wall = time.perf_counter() - t0
n_linked, n_true = int(agg["n_linked"]), int(agg["n_true"] or 0)
print(json.dumps({
    "wall_sec": round(wall, 2),
    "n_linked": n_linked,
    "precision": round(n_true / n_linked, 4) if n_linked else None,
    "recall": round(n_true / n_shared, 4),
    "n_shared": n_shared,
    "master": spark.sparkContext.master,
}))
spark.stop()
"""


def steal_sec() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    results = []
    for t in range(trials):
        s0 = steal_sec()
        out = subprocess.run(
            [sys.executable, "-c", _TRIAL.replace("__REPO__", repr(REPO)), str(n)],
            capture_output=True, text=True, timeout=3600,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"trial failed: {out.stderr[-2000:]}")
        r = json.loads(lines[-1])
        r["trial"] = t
        r["steal_sec"] = round(steal_sec() - s0, 1)
        results.append(r)
        print(json.dumps(r), file=sys.stderr)

    best = min(results, key=lambda r: r["wall_sec"])
    print(
        json.dumps(
            {
                "workload": "reference_100kx100k_linkage",
                "n": n,
                "n_shared": best["n_shared"],
                "wall_sec": best["wall_sec"],
                "precision": best["precision"],
                "recall": best["recall"],
                "n_linked": best["n_linked"],
                "trials": results,
                "reference": {"wall_sec": 28.4, "precision": 0.9802, "recall": 0.9983,
                              "hardware": "Colab T4 GPU"},
                "hardware": f"{best['master']} CPU",
            }
        )
    )


if __name__ == "__main__":
    main()
