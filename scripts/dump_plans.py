"""Dump `.explain("formatted")` for named driver queries into a directory.

Used to produce the plans/r06/<query>_{before,after}.txt deliverables:
run once from a worktree checked out at the round-start commit (suffix
`before`) and once at HEAD (suffix `after`).

Usage::

    python scripts/dump_plans.py OUTDIR SUFFIX query [query ...]

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the cpus this process may run on).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from fast_er_spark.plans.inspect import formatted_plan  # noqa: E402
from fast_er_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark("fast-er-spark-plandump", cpus=cpus, shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entry_mod.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qmap[name](spark, sf_dir)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df) + "\n")
        print(path, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
