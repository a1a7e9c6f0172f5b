#!/usr/bin/env python3
"""fast_er_spark benchmark: one Spark driver process on local[nproc].

    python3 perfbench/run.py --workload dedup_pages --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run builds the workload's inputs from
``--seed``, starts one SparkSession through
``fast_er_spark.session.get_spark`` with the driver heap sized from
MemTotal, runs one untimed cold pass (set-up), then repeats whole passes until ``--seconds`` have
elapsed, at least one. Every operation is timed in wall seconds and in CPU
seconds of the whole process tree less the JIT compiler's (``Counts.run``);
the throughput metrics come from the CPU seconds, which hypervisor steal
does not inflate. Outputs are checked outside the timed regions. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it (``{"info": ...}``) records
cpus, heap, steal, the walls, the JIT time and whether the kernel jar
cache was warm.

With ``--trace 1`` every operation runs twice back to back, once untraced
and once traced (alternating which goes first); per-layer numbers come from
the traced runs and ``tracing_overhead_s`` is the difference of the two
walls, summed over one pass. Spans are written to ``perfbench/.work/traces/``.

Everything the run writes stays under ``perfbench/.work/``: the per-run
directory (inputs, stage tables, Spark local and temp dirs) is deleted at
exit; ``home/`` keeps the JVM kernel jar cache between runs.

The run does not exit before every process it started has: it makes
itself the reaper of its orphaned descendants (which would otherwise go
to init, out of its sight), waits for all of them,
and terminates those still running after a grace period.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "docs_per_cpu_s": "1/cpu-s", "pairs_per_cpu_s": "1/cpu-s", "pass_cpu_s": "cpu-s",
    "dup_pair_recall": "ratio", "cluster_precision": "ratio",
    "link_precision": "ratio", "link_recall": "ratio",
    "success_rate": "ratio", "setup_s": "s", "peak_mem_mb": "MB",
}


PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 30.0


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    init, so that reap_descendants() finds and waits for every one."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    me, out = os.getpid(), []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(pid))
        except OSError:
            continue  # exited meanwhile
    return out


def reap_descendants() -> None:
    """Wait until no descendant of this process is left, reaping each as it
    exits; after REAP_GRACE_S send SIGTERM to those left, 5 s later
    SIGKILL. A killed child's own children come here next, and get the
    same signal."""
    deadline, sig = time.monotonic() + REAP_GRACE_S, None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = child_pids()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            deadline = time.monotonic() + 5
        if sig is not None:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants: the
    driver JVM, the Python workers it forks, and any of theirs that exited
    and were reaped. Time the hypervisor steals from a vCPU is not charged
    to the process that was running on it."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, frontier = 0, {os.getpid()}
    while frontier:
        total += sum(ticks.get(p, 0) for p in frontier)
        frontier = {c for c, p in parent.items() if p in frontier}
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far. The
    compiler threads are fixed for the JVM's life (the benchmark turns
    off their dynamic creation), so none of their time is lost with an
    exited thread."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        if "CompilerThre" in comm:
            total += sum(int(x) for x in raw.rsplit(")", 1)[1].split()[11:13])
    return total / os.sysconf("SC_CLK_TCK")


def heap_gb() -> int:
    """A quarter of MemTotal, at least 1g: the package default (48g) gets
    the JVM killed on small hosts. The heap is fixed (-Xms = -Xmx): G1
    otherwise grows it at GC-timing-dependent moments, and peak RSS then
    varied by a quarter between identical runs."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, kb // (4 << 20))


def prepare_env(run_dir: str, heap: int) -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    run directory, before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    home = os.path.join(WORK, "home")
    for d in (tmp, local, home):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        HOME=home,  # the kernel jar cache lives under ~/.cache
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEMORY=f"{heap}g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # the status store must keep every job of a run for attribution
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            # a fixed set of JIT compiler threads, so that jit_cpu_s sees them all
            "--conf " + shlex.quote(
                "spark.driver.extraJavaOptions="
                f"-Djava.io.tmpdir={tmp} -Xms{heap}g -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "pyspark-shell",
        ]),
    )
    tempfile.tempdir = tmp


def peak_mem_mb(spark) -> tuple[float, float]:
    """Peak memory of the driver JVM and of this process. The JVM's is the
    sum over its heap and non-heap pools of each pool's peak use: its
    resident size only shows the heap it was given, since the heap is
    fixed and G1 cycles through all of it."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    jvm = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans())
    return jvm / float(1 << 20), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Counts:
    """Operations attempted and failed, and the time spent checking them."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.jit_s = 0.0

    def run(self, w, key, tracer=None, warm=False):
        """One operation of ``w``; returns its wall seconds and its CPU
        seconds less the JIT compiler's, or None if it failed or its output
        was wrong. Compilation is warm-up that a long-running job pays
        once, and it varies from run to run with when the JVM compiles
        what."""
        self.attempted += 1
        if tracer is not None:
            tracer.install()
        cpu0, jit0 = tree_cpu_s(), jit_cpu_s(self.jvm_pid)
        try:
            wall, out = w.run(key, tracer, warm)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            jit = jit_cpu_s(self.jvm_pid) - jit0
            cpu = tree_cpu_s() - cpu0 - jit
            self.jit_s += jit
            if tracer is not None:
                tracer.uninstall()
        t0 = time.perf_counter()
        try:
            ok = w.check(key, out)
        except Exception:
            traceback.print_exc()
            ok = False
        self.check_s += time.perf_counter() - t0
        if not ok:
            print(f"wrong output: {w.name}/{key}", file=sys.stderr)
            self.failed += 1
            return None
        return wall, cpu


def measure(w, seconds: float, counts: Counts, tracer) -> tuple[dict, dict, int]:
    """Whole passes over ``w.keys`` until ``seconds`` have elapsed, at least
    one; in a traced run every operation runs untraced and traced,
    alternating which goes first. Returns the untraced and the traced
    (wall, cpu) samples per key, and the pass count."""
    samples = {k: [] for k in w.keys}
    traced = {k: [] for k in w.keys}
    start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - start < seconds:
        for i, key in enumerate(w.keys):
            order = [None] if tracer is None else [None, tracer]
            if (i + passes) % 2:
                order.reverse()
            for t in order:
                got = counts.run(w, key, t)
                if got is not None:
                    (samples if t is None else traced)[key].append(got)
        passes += 1
    return samples, traced, passes


def kernel_rates(spark, workdir: str, seed: int) -> dict[str, float]:
    """Throughput of the OPH signature kernel and the binary Jaro-Winkler
    level kernel on their own (three timed runs each, median)."""
    from pyspark.sql import functions as F

    from fast_er_spark.functions.jvm_sketch import (
        ensure_jvm_udfs,
        jw_level_jvm_bin,
        oph_signature_jvm,
    )
    from fixtures.synth import pages, voters

    import workloads

    ensure_jvm_udfs(spark)
    rows, _, _ = pages(n=2000, seed=seed)
    path = workloads.write_parquet(
        os.path.join(workdir, "kernel-docs", "part-0.parquet"), {"text": [r["text"] for r in rows]}
    )
    reps = 25
    docs = spark.read.parquet(os.path.dirname(path)).crossJoin(spark.range(reps)).select(
        oph_signature_jvm("text", 128, 3, 42).alias("s")
    )
    a, _ = voters(n=2000, seed=seed)
    names = sorted({r["last_name"] for r in a})[:1000]
    path = workloads.write_parquet(
        os.path.join(workdir, "kernel-names", "part-0.parquet"), {"a": names}
    )
    left = spark.read.parquet(os.path.dirname(path)).repartition(spark.sparkContext.defaultParallelism)
    pairs = left.crossJoin(left.select(F.col("a").alias("b"))).select(
        jw_level_jvm_bin(F.col("a").cast("binary"), F.col("b").cast("binary"), 0.1, 0.88, 0.94)
    )

    def rate(df, n):
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        return n / statistics.median(walls)

    return {
        "functions.sketch_docs_per_s": rate(docs, len(rows) * reps),
        "functions.jw_pairs_per_s": rate(pairs, len(names) ** 2),
    }


def layer_metrics(spark, w, tracer, walls, traced, passes, workdir, seed) -> dict[str, float]:
    import spans

    jobs, stages = spans.status_store(spark)
    tracer.attribute(jobs, stages)
    out = dict.fromkeys(layer_units(), 0.0)
    out.update(tracer.families(passes))
    for s in tracer.spans:
        if not s["name"].startswith("entry."):
            continue
        out[s["name"] + "_s"] += (s["end"] - s["start"]) / passes
        sub = tracer.subtree(s)
        if s["name"].endswith(".build"):
            out["entry.build_jobs"] += sum(len(c["jobs"]) for c in sub) / passes
        intervals = [j for c in sub for j in c["jobs"]]
        out["entry.driver_gap_s"] += spans.uncovered(s["start"], s["end"], intervals) / passes
    out["estimation.iterations"] = tracer.notes.get("estimation.iterations", 0.0)
    out["tracing_overhead_s"] = sum(
        statistics.median(traced[k]) - statistics.median(walls[k])
        for k in w.keys if walls[k] and traced[k]
    )
    out.update(w.layer_extras())
    out.update(kernel_rates(spark, workdir, seed))
    return out


def layer_units() -> dict[str, str]:
    import spans
    import workloads

    units = {f"{fam}.{k}": u for fam in spans.FAMILIES for k, u in spans.FIELDS}
    for q in workloads.HEADLINE:
        units[f"entry.{q}.build_s"] = units[f"entry.{q}.exec_s"] = "s"
    units.update({
        "entry.build_jobs": "count", "entry.driver_gap_s": "s",
        "lsh.useful_ratio": "ratio", "lsh.star_share": "ratio",
        "substring.useful_ratio": "ratio", "catalog.bytes_written_mb": "MB",
        "estimation.iterations": "count",
        "functions.sketch_docs_per_s": "1/s", "functions.jw_pairs_per_s": "1/s",
        "steal_s": "s", "tracing_overhead_s": "s",
    })
    return units


def main(argv=None) -> int:
    started = time.perf_counter()

    def phase(name: str) -> None:
        print(f"perfbench: {name} at {time.perf_counter() - started:.1f} s", file=sys.stderr, flush=True)

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)

    become_subreaper()
    # a terminated run unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(dir=WORK, prefix="run-")
    heap = heap_gb()
    prepare_env(run_dir, heap)
    sys.path[:0] = [REPO, os.path.join(REPO, "scripts")]
    spark = w = None
    try:
        import spans
        import workloads
        from fast_er_spark.session import get_spark

        cls = workloads.WORKLOADS[args.workload]
        cpus = len(os.sched_getaffinity(0))
        jars_before = set(glob.glob(os.path.join(WORK, "home", ".cache", "fast_er_jvm", "*", "*.jar")))

        phase("imports done")
        setup0 = time.perf_counter()
        w = cls(run_dir, args.seed, args.smoke)
        with ThreadPoolExecutor(1) as pool:
            # the inputs are generated while the JVM starts
            inputs = pool.submit(w.make_inputs)
            spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
            spark.sparkContext.setLogLevel("ERROR")
            inputs.result()
        w.load(spark)
        start_s = time.perf_counter() - setup0
        phase("session and inputs ready")
        counts = Counts(spark.sparkContext._gateway.proc.pid)  # noqa: SLF001
        t0 = time.perf_counter()
        for key in w.keys:
            counts.run(w, key, warm=True)
        warmup_s = time.perf_counter() - t0 - counts.check_s
        # the checks of the cold pass are not set-up
        setup_s = time.perf_counter() - setup0 - counts.check_s

        phase("cold pass done")
        tracer = spans.Tracer() if args.trace else None
        st0, jit0 = steal_s(), counts.jit_s
        samples, traced, passes = measure(w, args.seconds, counts, tracer)
        steal = steal_s() - st0
        phase("measurement done")
        if any(not v for v in samples.values()):
            raise RuntimeError("an operation failed on every pass")
        walls = {k: [wall for wall, _ in v] for k, v in samples.items()}
        cpu = {k: [c for _, c in v] for k, v in samples.items()}
        traced_walls = {k: [wall for wall, _ in v] for k, v in traced.items()}

        jars_after = set(glob.glob(os.path.join(WORK, "home", ".cache", "fast_er_jvm", "*", "*.jar")))
        info = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus, "heap": f"{heap}g",
            "steal_s": steal, "passes": passes, "start_s": start_s,
            "warmup_s": warmup_s,
            "jar_cache_warm": not (jars_after - jars_before),
            "check_s": counts.check_s,
            "walls": walls, "cpu": cpu, "jit_s": counts.jit_s - jit0,
        }
        if args.trace:
            metrics = layer_metrics(spark, w, tracer, walls, traced_walls, passes, run_dir, args.seed)
            metrics["steal_s"] = steal
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
            units = layer_units()
        else:
            metrics = w.summary(cpu)
            metrics["setup_s"] = setup_s
            metrics["success_rate"] = 1.0 - counts.failed / counts.attempted
            info["mem_mb"] = peak_mem_mb(spark)
            metrics["peak_mem_mb"] = sum(info["mem_mb"])
            units = END_TO_END
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        result = {
            "correct": counts.failed == 0,
            "attempted": counts.attempted,
            "failed": counts.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
        phase("metrics done")
        print(json.dumps({"info": info}))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        try:
            if w is not None:
                w.close()
            if spark is not None:
                stop(spark)
        finally:
            reap_descendants()
            shutil.rmtree(run_dir, ignore_errors=True)
            phase("stopped")


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
