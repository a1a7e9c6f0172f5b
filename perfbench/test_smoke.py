"""Smoke test of the benchmark at tiny sizes (pages(500), the sf0.001
tables): every metric named in BENCHMARK.json is emitted with its unit,
every output check passes, and the exact Jaccard oracle agrees with the
repository's DuckDB twin.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_and_outputs_correct(workload, trace):
    proc = _run(REPO, "--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--smoke")
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
    if not trace:
        assert result["metrics"]["dup_pair_recall"]["value"] >= 0.99
        assert result["metrics"]["success_rate"]["value"] == 1.0


@pytest.mark.parametrize("n", [500, 3000])
def test_exact_jaccard_oracle_matches_duckdb_twin(n, tmp_path):
    import duckdb

    sys.path[:0] = [REPO, HERE]
    import oracles
    import workloads
    from __spark_entry__ import _JACCARD_SQL
    from fixtures.synth import pages

    rows, _, _ = pages(n=n, seed=5)
    path = workloads.write_parquet(
        str(tmp_path / "part-0.parquet"),
        {"doc_id": [r["doc_id"] for r in rows], "text": [r["text"] for r in rows]},
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT doc_id, text FROM '{path}'")
    want = {(int(a), int(b)) for a, b, _, _ in con.sql(_JACCARD_SQL).fetchall()}
    con.close()
    assert want and oracles.exact_jaccard_pairs(path) == want


def test_fails_without_the_package():
    """Run from a directory holding only BENCHMARK.json and the benchmark,
    it exits non-zero without printing a result."""
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        proc = _run(d, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                    "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
