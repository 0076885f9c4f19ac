"""The sketch benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {ingest,curate} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_work/`` (nothing is written elsewhere), sets up,
warms up with one cycle, then measures whole cycles of the workload's
operations for ``--seconds`` and checks every answer against exact
truth. Its stdout ends with two JSON lines: the full record of the run
(every figure, its unit and the answer checks), then a one-line summary
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). ``perfbench/README.md`` defines every
metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import common
import tracing
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def unit_of(name: str) -> str:
    """The unit of an end-to-end figure of the run record."""
    if name == "rows_per_s":
        return "1/s"
    if name == "rows_per_cpu_s":
        return "1/cpu-s"
    if "_cpu_" in name:
        return "cpu-s"  # CPU seconds at the reference speed (common.summarize)
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "table_bytes":
        return "bytes"
    if name in ("ops", "cycles"):
        return "count"
    return "ratio"  # ops_failed_frac, max_rel_err


E2E_UNITS = {k: unit_of(k) for k in ("setup_s", "rows_per_cpu_s", "op_cpu_p50_s", "op_cpu_p90_s", "peak_rss_mb")}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import js_hll_spark  # noqa: F401  the library must be in the checkout
    except ImportError as e:
        print(f"perfbench: js_hll_spark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = common.work_dirs(work)
    # the JVM, its Python workers and the library's package zip all take
    # their temporary paths from here
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    tempfile.tempdir = None
    # without this every JVM keeps a performance-counter file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    try:
        record = run(args, dirs, WORKLOADS[args.workload])
    finally:
        out = os.path.join(ROOT, ".perfbench_work", "results")
        os.makedirs(out, exist_ok=True)
        for f in os.listdir(dirs["out"]):
            shutil.move(os.path.join(dirs["out"], f), os.path.join(out, f))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record["detail"], default=str))
    print(json.dumps(record["summary"]))
    return 0


def run(args, dirs, workload_cls) -> dict:
    wl = workload_cls(args.seed, dirs)
    t0 = time.perf_counter()
    spark = common.start_session(dirs, event_log=False)
    session_s = time.perf_counter() - t0
    try:
        setups = []
        for _ in range(common.SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
        ops = wl.ops(spark)
        loop = common.sweeping_loop(spark)
        t0 = time.perf_counter()
        warm = loop.cycles(ops, 1)
        warmup_s = time.perf_counter() - t0
        steal0, t0 = common.host_steal_s(), time.perf_counter()
        measured = loop.cycles(ops, wl.cycles(args.seconds), first_cycle=1)
        # the share of the machine's CPU time the host took during the
        # measured loop: it stretches the wall-time figures, not the CPU ones
        steal = (common.host_steal_s() - steal0) / (os.cpu_count() * (time.perf_counter() - t0))
        e2e = common.summarize(measured)
        e2e["peak_rss_mb"] = common.peak_rss_mb()
        e2e["table_bytes"] = getattr(wl, "table_bytes", None)
        trace = None
        if args.trace:
            trace = tracing.traced_run(args, dirs, wl, spark, e2e)
            spark = trace.pop("spark")
    finally:
        common.stop_jvm(spark)
    if trace is not None:
        trace["layers"].update(tracing.finish(trace, dirs))
    # the session starts and the loop warms up once per run; the data
    # set-up is repeated, and its median counts. Like the CPU figures it
    # is given at the reference machine's speed (common.kernel_cpu_s)
    e2e["setup_wall_s"] = session_s + statistics.median(setups) + warmup_s
    e2e["setup_s"] = e2e["setup_wall_s"] * e2e["cpu_scale"]
    samples = warm + measured + (trace["samples"] if trace else [])
    failed = [s for s in samples if not s.ok]
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loop": {"type": "closed", "clients": 1, "cores": common.CORES,
                 "tail_percentile": common.TAIL_PCT},
        "inputs": wl.inputs(),
        "setup": {"session_start_s": session_s, "setup_reps_s": setups, "warmup_s": warmup_s},
        "host_steal_frac": steal,
        "end_to_end": {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items() if k != "per_op"},
        "per_op": e2e["per_op"],
        "checks": {
            "ops_attempted": len(measured),
            "ops_failed": sum(not s.ok for s in measured),
            "warmup_and_traced_failed": len(failed) - sum(not s.ok for s in measured),
            "failures": [{"op": s.op, "cycle": s.cycle, "note": s.note} for s in failed[:20]],
        },
    }
    if trace is not None:
        metrics = {k: {"value": v, "unit": tracing.UNITS[k]} for k, v in trace["layers"].items()}
        detail["per_layer"] = metrics
        detail["tracing_overhead"] = trace["overhead"]
    else:
        metrics = {k: detail["end_to_end"][k] for k in E2E_UNITS}
    with open(os.path.join(dirs["out"], f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    summary = {
        "correct": not failed,
        "attempted": len(measured),
        "failed": sum(not s.ok for s in measured),
        "metrics": metrics,
    }
    return {"detail": detail, "summary": summary}


if __name__ == "__main__":
    sys.exit(main())
