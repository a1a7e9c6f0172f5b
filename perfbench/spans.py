"""In-memory spans around calls into fast_er_spark's public functions, and
attribution of Spark's jobs and stages to those spans.

Spans are recorded from outside the package: ``Tracer.install`` swaps the
traced functions and methods for timing wrappers (in every loaded module
that bound them by ``from x import f``) and ``Tracer.uninstall`` puts the
originals back, so untraced operations run the unmodified code.

Jobs and stages come from Spark's in-process status store (it works with
the UI off) and are attributed by submission time to the innermost span
open at that moment: the benchmark drives Spark from one thread, so spans
nest and never overlap.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

# (module, attribute, span name). A DataFrame returned by one of these is
# remembered, so that the stage-table write that executes it is recorded
# under the same span name: Spark runs the operator's plan and the parquet
# write in the same tasks, so the two cannot be split from outside.
FUNCTIONS = [
    ("fast_er_spark.operators.lsh", "fused_sketch_frame", "lsh.sketch"),
    ("fast_er_spark.operators.lsh", "lsh_candidate_pairs", "lsh.candidates"),
    ("fast_er_spark.operators.verify", "verify_pairs_jaccard", "verify.jaccard"),
    ("fast_er_spark.operators.substring", "anchor_pairs", "substring.anchors"),
    ("fast_er_spark.operators.substring", "verify_anchor_pairs", "substring.verify"),
    ("fast_er_spark.operators.components", "connected_components", "components.cc"),
]
METHODS = [
    ("fast_er_spark.pipeline", "DedupPipeline", "run", "pipeline.run"),
    ("fast_er_spark.catalog", "StageCatalog", "read", "catalog.read"),
    ("fast_er_spark.linkage", "Comparison", "fit", "linkage.fit"),
    ("fast_er_spark.linkage", "Comparison", "counts", "linkage.counts"),
    ("fast_er_spark.linkage", "Linkage", "transform", "linkage.transform"),
    ("fast_er_spark.estimation", "Estimation", "fit", "estimation.fit"),
]
# every span family reported with the four stage fields; pipeline.run's
# self time is reported as pipeline.telemetry (stage-table row counts,
# metrics/lineage appends and the star counters run there)
FAMILIES = [
    "pipeline.telemetry", "lsh.sketch", "lsh.candidates", "verify.jaccard",
    "substring.anchors", "substring.verify", "components.cc", "catalog.write",
    "catalog.read", "linkage.fit", "linkage.counts", "linkage.transform",
    "estimation.fit", "entry.build", "entry.exec",
]
FIELDS = [("self_s", "s"), ("executor_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]
_MB = float(1 << 20)


def family(span_name: str) -> str:
    if span_name == "pipeline.run":
        return "pipeline.telemetry"
    if span_name.startswith("entry."):
        return "entry." + span_name.rsplit(".", 1)[1]
    return span_name


class Tracer:
    """Spans kept in memory for one run, and the wrappers that record them."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._origin: dict[int, tuple] = {}
        self._saved: list[tuple] = []
        self.notes: dict[str, float] = {}

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            # epoch seconds: the status store stamps jobs in epoch ms
            "start": time.time(), "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if hasattr(out, "sparkSession"):
                tracer._origin[id(out)] = (name, out)
            if name == "estimation.fit":
                tracer.notes["estimation.iterations"] = float(getattr(out, "n_iter", 0))
            return out

        return traced

    def _wrap_write(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(catalog, df, name):
            layer = tracer._origin.get(id(df), ("catalog.write",))[0]
            with tracer.span(layer):
                return fn(catalog, df, name)

        return traced

    # --------------------------------------------------------- patching
    def install(self) -> None:
        for mod_name, attr, name in FUNCTIONS:
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(fn, name)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "") or ""
                if not (mname.startswith("fast_er_spark") or mname == "__spark_entry__"):
                    continue
                if getattr(mod, attr, None) is fn:
                    self._saved.append((mod, attr, fn))
                    setattr(mod, attr, wrapped)
        for mod_name, cls_name, attr, name in METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            fn = cls.__dict__[attr]
            self._saved.append((cls, attr, fn))
            setattr(cls, attr, self._wrap(fn, name))
        cat = importlib.import_module("fast_er_spark.catalog").StageCatalog
        self._saved.append((cat, "write", cat.__dict__["write"]))
        cat.write = self._wrap_write(cat.__dict__["write"])

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        self._origin.clear()

    # ------------------------------------------------------ attribution
    def _innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def attribute(self, jobs: list[dict], stages: list[dict]) -> None:
        """Attach status-store jobs and stages to the spans they ran in."""
        for s in self.spans:
            s.update(jobs=[], executor_cpu_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        for j in jobs:
            if j.get("submissionTime") is None:
                continue
            s = self._innermost(j["submissionTime"] / 1000.0)
            if s is not None:
                end = j.get("completionTime") or j["submissionTime"]
                s["jobs"].append((j["submissionTime"] / 1000.0, end / 1000.0))
        for st in stages:
            if st.get("submissionTime") is None or st.get("status") == "SKIPPED":
                continue
            s = self._innermost(st["submissionTime"] / 1000.0)
            if s is not None:
                s["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                s["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / _MB
                s["spill_mb"] += st.get("memoryBytesSpilled", 0) / _MB

    def self_time(self, s: dict) -> float:
        kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"])
        return (s["end"] - s["start"]) - kids

    def subtree(self, s: dict) -> list[dict]:
        out, frontier = [s], [s["id"]]
        while frontier:
            kids = [c for c in self.spans if c["parent"] in frontier]
            out += kids
            frontier = [c["id"] for c in kids]
        return out

    def families(self, n_ops: int) -> dict[str, float]:
        """Per-operation totals of the four fields for every span family."""
        out = {f"{fam}.{k}": 0.0 for fam in FAMILIES for k, _ in FIELDS}
        for s in self.spans:
            fam = family(s["name"])
            if fam not in FAMILIES:
                continue
            out[f"{fam}.self_s"] += self.self_time(s) / n_ops
            for k in ("executor_cpu_s", "shuffle_write_mb", "spill_mb"):
                out[f"{fam}.{k}"] += s.get(k, 0.0) / n_ops
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "notes": self.notes}, f)


def status_store(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stages of this session as plain dicts, via one Jackson
    serialization each (one py4j call per list instead of one per field)."""
    sc = spark.sparkContext
    jvm = sc._jvm  # noqa: SLF001
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    jobs = store.jobsList(jvm.java.util.ArrayList())
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),  # noqa: SLF001
    )
    return json.loads(mapper.writeValueAsString(jobs)), json.loads(mapper.writeValueAsString(stages))


def uncovered(start: float, end: float, intervals: list[tuple]) -> float:
    """Time in [start, end] not covered by any of ``intervals``."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return (end - start) - covered
