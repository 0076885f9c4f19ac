"""Session lifecycle, the operation loop and the statistics every workload
shares.

The benchmark owns its Spark session (the library's settings plus a
work directory inside the checkout), every action, and every Spark job
group: the library only receives DataFrames built from generated files.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any, Callable

CORES = 4
# the operation-latency tail. A run measures a fixed number of whole
# cycles, so the 90th percentile always sits at the same place among the
# slowest operations' samples
TAIL_PCT = 90
SETUP_REPS = 3
# C1 only: a run is a few hundred short Spark jobs, and the C2 compiler
# would spend most of it compiling code the run then barely uses, on the
# same four cores. With C1 the JVM is warm after one cycle, so the
# measured cycles are not slowed by compilation that a busy host delays
# by a different amount in every run.
JAVA_OPTS = "-XX:TieredStopAtLevel=1"


def work_dirs(root: str) -> dict:
    """Every path the benchmark writes, under ``root``."""
    d = {k: os.path.join(root, k) for k in ("tmp", "spark-local", "warehouse", "eventlog", "data", "out")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    return d


def start_session(dirs: dict, *, event_log: bool):
    """A ``local[4]`` session with the library's own settings
    (``js_hll_spark/spark/session.py``), every scratch path inside the
    work directory and, when tracing, Spark's event log."""
    from pyspark.sql import SparkSession

    from js_hll_spark.spark.session import ship_package

    b = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{CORES}]")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # a fixed-size heap: GC and resident memory then depend on the
        # work, not on how far the heap happened to grow
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Xms2g {JAVA_OPTS} -Djava.io.tmpdir={dirs['tmp']}")
        .config("spark.local.dir", dirs["spark-local"])
        .config("spark.sql.warehouse.dir", dirs["warehouse"])
        .config("spark.eventLog.enabled", "true" if event_log else "false")
        .config("spark.eventLog.dir", dirs["eventlog"])
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------- processes --


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _vm_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the Spark JVM plus every process
    below it (the Python daemon and its workers)."""
    proc = jvm_process()
    if proc is None:
        return float("nan")
    kids = _children()
    todo, total = [proc.pid], 0
    while todo:
        pid = todo.pop()
        total += _vm_kb(pid, "VmHWM")
        todo.extend(kids.get(pid, []))
    return total / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the Spark JVM, its Python daemon and workers, and
    the children they have already reaped. The kernel of a virtual
    machine leaves the time its host steals out of these counters, so
    that time stretches an operation's wall time but not its CPU time."""
    kids = _children()
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ host speed --

_KERNEL_INPUT = None
# what kernel_cpu_s() reads on the reference machine: the benchmark's CPU
# figures are in CPU seconds of that machine
KERNEL_REF_S = 0.020
# how the workloads' CPU time follows the kernel's when the host slows:
# over runs whose kernel time ranged from 20 to 34 ms, the log of each
# CPU figure (and of the set-up time) rose 1.1 to 2.0 times, typically
# 1.5 times, as fast as the log of the kernel time
HOST_EXPONENT = 1.5


def kernel_cpu_s() -> float:
    """CPU seconds that a fixed piece of single-threaded work takes on
    this machine right now: a numpy sort of 1M integers and an
    interpreter loop, none of it library code. A shared host makes every
    instruction slower at times without taking CPU time away, so CPU
    seconds alone follow the host too; the benchmark measures this
    kernel after every operation and scales its CPU figures by
    (``KERNEL_REF_S`` / the run's median) ** ``HOST_EXPONENT``."""
    global _KERNEL_INPUT
    if _KERNEL_INPUT is None:
        import numpy as np

        _KERNEL_INPUT = np.random.default_rng(0).integers(0, 1 << 40, 1_000_000)
    t0 = time.thread_time()
    _KERNEL_INPUT.copy().sort()
    x = 0
    for i in range(150_000):
        x += i * i
    return time.thread_time() - t0


def jvm_stats(spark) -> dict:
    """Cumulative GC time and the summed peak of the JVM heap pools."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return {"gc_s": gc / 1000.0, "peak_heap_mb": heap / 2**20}


# ------------------------------------------------------------ operations --


@dataclass
class Op:
    """One benchmark operation: ``build`` makes the plan (any Spark job it
    starts is an eager job), ``action`` runs it and returns the answer,
    ``check`` turns the answer into (ok, relative error or None, note)."""

    name: str
    rows: int
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], tuple]
    kind: str = "batch"  # or "read" / "write" of a stored table
    # traced runs only: counts and sub-spans the operation reports, from
    # its plan and its answer, once the answer has passed its check; runs
    # in a job group of its own
    extra: Callable[[Any, Any], dict] | None = None


@dataclass
class Sample:
    op: str
    kind: str
    cycle: int
    rows: int
    build_s: float
    action_s: float
    cpu_s: float
    ok: bool
    rel_err: float | None
    note: str = ""
    group: str = ""
    jobs_at_build: int = 0
    jobs_at_action: int = 0
    extra: dict = field(default_factory=dict)
    kernel_s: float = float("nan")  # kernel_cpu_s() right after the operation

    @property
    def latency_s(self) -> float:
        return self.build_s + self.action_s


@dataclass
class Loop:
    """Runs operations one at a time (a closed loop with one client) and
    records a Sample per operation. With ``traced`` set, every build and
    action runs in its own Spark job group and its jobs are counted."""

    spark: Any
    traced: bool = False
    after_op: Callable[[], None] | None = None
    samples: list = field(default_factory=list)
    seq: int = 0

    def _jobs(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def run(self, op: Op, cycle: int) -> Sample:
        sc = self.spark.sparkContext
        group = f"pb{self.seq:05d}:{op.name}"
        self.seq += 1
        err: str = ""
        answer = None
        if self.traced:
            sc.setJobGroup(group + ":build", op.name)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        t1 = t0
        try:
            plan = op.build()
            t1 = time.perf_counter()
            if self.traced:
                sc.setJobGroup(group + ":action", op.name)
            answer = op.action(plan)
        except Exception as e:  # an operation that raises counts as failed
            err = f"{type(e).__name__}: {str(e)[:300]}"
        t2 = time.perf_counter()
        cpu_s = tree_cpu_s() - c0
        if self.traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if err:
            ok, rel, note = False, None, err
        else:
            try:
                ok, rel, note = op.check(answer)
            except Exception as e:
                ok, rel, note = False, None, f"check raised {type(e).__name__}: {e}"
        s = Sample(
            op.name, op.kind, cycle, op.rows, t1 - t0, t2 - t1, cpu_s,
            bool(ok), rel, note, group,
        )
        if self.traced:
            s.jobs_at_build = self._jobs(group + ":build")
            s.jobs_at_action = self._jobs(group + ":action")
            if op.extra is not None and s.ok:
                sc.setJobGroup(group + ":extra", op.name)
                try:
                    s.extra = op.extra(plan, answer)
                except Exception as e:
                    s.ok, s.note = False, f"extra raised {type(e).__name__}: {str(e)[:300]}"
                sc.setLocalProperty("spark.jobGroup.id", None)
        s.kernel_s = kernel_cpu_s()
        if self.after_op is not None:
            self.after_op()
        self.samples.append(s)
        return s

    def cycles(self, ops: list, n: int, first_cycle: int = 0) -> list:
        """Run ``n`` whole cycles of ``ops``; returns their samples."""
        start = len(self.samples)
        for cycle in range(first_cycle, first_cycle + n):
            for op in ops:
                self.run(op, cycle)
        return self.samples[start:]


def sweeping_loop(spark, traced: bool = False) -> Loop:
    """A Loop that, after each operation, retires the localCheckpoint
    blocks it left pinned, so later operations do not run under their
    memory pressure (``js_hll_spark/spark/blocks.py``)."""
    from js_hll_spark.spark.blocks import persistent_rdd_ids, unpersist_blocks

    keep = persistent_rdd_ids(spark)
    return Loop(spark, traced=traced, after_op=lambda: unpersist_blocks(spark, keep))


# ------------------------------------------------------------ statistics --


def pct(values: list, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def summarize(samples: list) -> dict:
    """End-to-end figures of one measured loop."""
    lat = [s.latency_s for s in samples]
    # CPU seconds of the reference machine (kernel_cpu_s)
    scale = (KERNEL_REF_S / statistics.median(s.kernel_s for s in samples)) ** HOST_EXPONENT
    cpu = [s.cpu_s * scale for s in samples]
    rows = sum(s.rows for s in samples)
    out = {
        "ops": len(samples),
        "cpu_scale": scale,
        "ops_failed_frac": sum(not s.ok for s in samples) / len(samples),
        "cycles": len({s.cycle for s in samples}),
        "rows_per_cpu_s": rows / sum(cpu),
        "op_cpu_p50_s": statistics.median(cpu),
        f"op_cpu_p{TAIL_PCT}_s": pct(cpu, TAIL_PCT),
        "rows_per_s": rows / sum(lat),
        "op_p50_s": statistics.median(lat),
        f"op_p{TAIL_PCT}_s": pct(lat, TAIL_PCT),
    }
    errs = [s.rel_err for s in samples if s.rel_err is not None]
    out["max_rel_err"] = max(errs) if errs else None
    for kind in sorted({s.kind for s in samples}):
        k = [s.latency_s for s in samples if s.kind == kind]
        out[f"{kind}_p50_s"] = statistics.median(k)
        out[f"{kind}_p{TAIL_PCT}_s"] = pct(k, TAIL_PCT)
    per_op = {}
    for name in dict.fromkeys(s.op for s in samples):
        k = [s.latency_s for s in samples if s.op == name]
        c = [s.cpu_s * scale for s in samples if s.op == name]
        per_op[name] = {"n": len(k), "p50_s": statistics.median(k), "max_s": max(k),
                        "cpu_p50_s": statistics.median(c)}
    out["per_op"] = per_op
    return out
