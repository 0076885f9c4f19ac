"""The traced run: per-layer metrics measured from outside the library.

Four sources, none of which needs a library change:

- spans the benchmark records around each call into a layer's public
  function (build and action time, in ``common.Loop``);
- Spark's public status tracker, read per job group, for the jobs a call
  started while its plan was being built (``jobs_at_build``);
- Spark's event log, written by the benchmark's own session and parsed
  after it stops, for per-stage task metrics, attributed to each
  operation through the job group the benchmark set around it;
- direct timed calls to the pure-Python layers on the workload's data.

The traced loop runs in a second session of the same JVM (the event log
is a session-start setting), after the run's untraced loop; the
difference between the two is the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np

import common

# (layer, ops that call into it) — the operation names of workloads.py
LAYER_OPS = {
    "spark.agg": ["ndv_global", "ndv_by_lang", "ndv_murmur3_by_lang", "ndv_shuffled_input"],
    "pipelines.sketch_table": ["sketch_by_day_lang", "read_window", "write_merge"],
    "spark.functions": ["read_sql_by_lang"],
    "spark.sketch_agg": ["heavy_hitters", "approx_quantiles"],
    "operators.dedup": ["dedup_exact", "near_dup"],
    "operators.contamination": ["contamination_bloom"],
}

# every per-layer metric as "name:unit", per layer, in BENCHMARK.json order
_SPEC = {
    "spark.agg": "calls:count build_s:s jobs_at_build:count action_s:s stage_run_s:s stage_cpu_s:s "
                 "shuffle_write_bytes:bytes shuffle_records:count python_bytes_sent:bytes spill_bytes:bytes "
                 "peak_exec_mem_bytes:bytes tasks:count ndv_shuffled_input.jobs_at_build:count",
    "hashing": "murmur3_ns_per_value:ns",
    "core.hll": "union_us:us estimate_us:us update_ns_per_hash:ns",
    "codec": "decode_us:us encode_us:us",
    "pipelines.sketch_table": "table_build_s:s query_build_s:s query_action_s:s jobs_at_build:count "
                              "bytes_read_per_query:bytes files_read_per_query:count merge_s:s "
                              "jobs_per_merge:count bytes_written_per_merge:bytes table_bytes:bytes",
    "spark.functions": "action_s:s",
    "spark.sketch_agg": "calls:count build_s:s jobs_at_build:count action_s:s shuffle_write_bytes:bytes "
                        "python_bytes_sent:bytes spill_bytes:bytes peak_exec_mem_bytes:bytes "
                        "heavy_hitters.jobs_at_build:count",
    "core.cms": "update_ns_per_item:ns",
    "core.kll": "update_ns_per_item:ns",
    "core.bloom": "probe_ns_per_item:ns",
    "operators.dedup": "dedup_exact.action_s:s shingle_postings.build_s:s minhash_lsh_candidates_fast.build_s:s "
                       "ngram_jaccard.build_s:s near_dup.action_s:s jobs_at_build:count "
                       "shuffle_write_bytes:bytes spill_bytes:bytes candidate_pairs:count verified_pairs:count "
                       "pair_yield:ratio",
    "operators.contamination": "action_s:s jobs_at_build:count shuffle_write_bytes:bytes",
    "jvm": "gc_s:s peak_heap_mb:MB",
    "trace": "untraced_rows_per_cpu_s:1/cpu-s traced_rows_per_cpu_s:1/cpu-s overhead_frac:ratio "
             "untraced_op_cpu_p50_s:cpu-s traced_op_cpu_p50_s:cpu-s",
}
UNITS = {
    f"{layer}.{name}": unit
    for layer, spec in _SPEC.items()
    for name, unit in (item.split(":") for item in spec.split())
}


# ------------------------------------------------------------ traced run --


def _session_loop(wl, spark, dirs, n: int, *, traced: bool):
    """Restart the session (same JVM), warm up one cycle, then measure
    ``n`` cycles. Returns the new session, the warm-up and measured
    samples, and the JVM's GC time and peak heap over the measured ones."""
    spark.stop()
    spark = common.start_session(dirs, event_log=traced)
    wl.attach(spark)
    ops = wl.ops(spark)
    warm = common.sweeping_loop(spark).cycles(ops, 1)
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        pool.resetPeakUsage()
    gc0 = common.jvm_stats(spark)["gc_s"]
    samples = common.sweeping_loop(spark, traced=traced).cycles(ops, n, first_cycle=1)
    jvm = common.jvm_stats(spark)
    jvm["gc_s"] -= gc0
    return spark, warm, samples, jvm


def traced_run(args, dirs, wl, spark, untraced: dict) -> dict:
    """Measure the loop again in a session that writes the event log and
    compare it with the run's untraced loop. Returns the session, the
    traced samples and the span/probe metrics; :func:`finish` adds the
    event-log metrics once the log is complete."""
    n = wl.cycles(args.seconds)
    spark, warm, samples, jvm = _session_loop(wl, spark, dirs, n, traced=True)
    traced = common.summarize(samples)
    tail = f"_p{common.TAIL_PCT}_s"
    overhead = {
        k: {"untraced": untraced[k], "traced": traced[k]}
        for k in ("rows_per_cpu_s", "op_cpu_p50_s", "op_cpu" + tail, "rows_per_s", "op_p50_s", "op" + tail)
    }
    layers = span_metrics(samples)
    layers["jvm.gc_s"] = jvm["gc_s"]
    layers["jvm.peak_heap_mb"] = jvm["peak_heap_mb"]
    layers["pipelines.sketch_table.table_bytes"] = getattr(wl, "table_bytes", 0)
    layers.update(probe_layers(wl.probe_inputs()))
    layers.update({
        "trace.untraced_rows_per_cpu_s": untraced["rows_per_cpu_s"],
        "trace.traced_rows_per_cpu_s": traced["rows_per_cpu_s"],
        "trace.overhead_frac": 1.0 - traced["rows_per_cpu_s"] / untraced["rows_per_cpu_s"],
        "trace.untraced_op_cpu_p50_s": untraced["op_cpu_p50_s"],
        "trace.traced_op_cpu_p50_s": traced["op_cpu_p50_s"],
    })
    return {"spark": spark, "samples": warm + samples, "traced_samples": samples,
            "layers": layers, "overhead": overhead}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def span_metrics(samples: list) -> dict:
    """Per-layer figures from the benchmark's own spans and job counts."""
    cycles = max(1, len({s.cycle for s in samples}))
    by_op = defaultdict(list)
    for s in samples:
        by_op[s.op].append(s)

    def of(ops):
        return [s for o in ops for s in by_op.get(o, [])]

    out = {}
    for layer in ("spark.agg", "spark.sketch_agg"):
        ss = of(LAYER_OPS[layer])
        out[f"{layer}.calls"] = len(ss)
        out[f"{layer}.build_s"] = _mean(s.build_s for s in ss)
        out[f"{layer}.action_s"] = _mean(s.action_s for s in ss)
        out[f"{layer}.jobs_at_build"] = sum(s.jobs_at_build for s in ss) / cycles
    for layer, op in (("spark.agg", "ndv_shuffled_input"), ("spark.sketch_agg", "heavy_hitters")):
        out[f"{layer}.{op}.jobs_at_build"] = _mean(s.jobs_at_build for s in by_op.get(op, []))
    reads = by_op.get("read_window", [])
    merges = by_op.get("write_merge", [])
    out["pipelines.sketch_table.table_build_s"] = _mean(s.latency_s for s in by_op.get("sketch_by_day_lang", []))
    out["pipelines.sketch_table.query_build_s"] = _mean(s.build_s for s in reads)
    out["pipelines.sketch_table.query_action_s"] = _mean(s.action_s for s in reads)
    out["pipelines.sketch_table.jobs_at_build"] = sum(s.jobs_at_build for s in reads) / cycles
    out["pipelines.sketch_table.merge_s"] = _mean(s.action_s for s in merges)
    out["pipelines.sketch_table.jobs_per_merge"] = _mean(s.jobs_at_action for s in merges)
    out["spark.functions.action_s"] = _mean(s.action_s for s in by_op.get("read_sql_by_lang", []))
    dd = of(LAYER_OPS["operators.dedup"])
    out["operators.dedup.dedup_exact.action_s"] = _mean(s.action_s for s in by_op.get("dedup_exact", []))
    nd = by_op.get("near_dup", [])
    out["operators.dedup.near_dup.action_s"] = _mean(s.action_s for s in nd)
    for fn in ("shingle_postings", "minhash_lsh_candidates_fast", "ngram_jaccard"):
        out[f"operators.dedup.{fn}.build_s"] = _mean(s.extra.get(f"{fn}_build_s", 0.0) for s in nd)
    out["operators.dedup.jobs_at_build"] = sum(s.jobs_at_build for s in dd) / cycles
    cand = _mean(s.extra.get("candidate_pairs", 0) for s in nd)
    ver = _mean(s.extra.get("verified_pairs", 0) for s in nd)
    out["operators.dedup.candidate_pairs"] = cand
    out["operators.dedup.verified_pairs"] = ver
    out["operators.dedup.pair_yield"] = ver / cand if cand else 0.0
    ct = by_op.get("contamination_bloom", [])
    out["operators.contamination.action_s"] = _mean(s.action_s for s in ct)
    out["operators.contamination.jobs_at_build"] = sum(s.jobs_at_build for s in ct) / cycles
    return out


# ------------------------------------------------------------- event log --


def read_event_log(path: str) -> dict:
    """Per job group: task-metric totals and the SQL metrics Spark reports
    for the group's query executions."""
    group_of_stage, group_of_exec = {}, {}
    acc_name = {}
    tot = defaultdict(lambda: defaultdict(float))
    driver_updates = []

    def plan_metrics(info):
        for m in info.get("metrics", []):
            acc_name[m["accumulatorId"]] = m["name"]
        for c in info.get("children", []):
            plan_metrics(c)

    # Spark 4 writes a directory of event files per application
    files = sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]
    for name in files:
        with open(name) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g:
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage.setdefault(sid, g)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        group_of_exec.setdefault(int(eid), g)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                plan_metrics(ev.get("sparkPlanInfo", {}))
            elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    acc_name[m["accumulatorId"]] = m["name"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append(ev)
            elif kind == "SparkListenerTaskEnd":
                g = group_of_stage.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if g is None or not tm:
                    continue
                t = tot[g]
                t["tasks"] += 1
                t["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                t["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                t["peak_exec_mem_bytes"] = max(t["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0))
                sw = tm.get("Shuffle Write Metrics", {})
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                t["bytes_read"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                t["bytes_written"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if a.get("Name") == "data sent to Python workers":
                        t["python_bytes_sent"] += float(a.get("Update", 0))
    for ev in driver_updates:
        g = group_of_exec.get(int(ev["executionId"]))
        if g is None:
            continue
        for acc_id, value in ev.get("accumUpdates", []):
            if acc_name.get(acc_id) == "number of files read":
                tot[g]["files_read"] += value
    return tot


def finish(trace: dict, dirs: dict) -> dict:
    """Event-log metrics per layer, from the log of the stopped session."""
    logs = sorted(glob.glob(os.path.join(dirs["eventlog"], "*")), key=os.path.getmtime)
    per_group = read_event_log(logs[-1]) if logs else {}
    per_op = defaultdict(lambda: defaultdict(float))
    calls = defaultdict(int)
    for s in trace["traced_samples"]:
        calls[s.op] += 1
        for phase in ("build", "action"):
            for k, v in per_group.get(f"{s.group}:{phase}", {}).items():
                if k == "peak_exec_mem_bytes":
                    per_op[s.op][k] = max(per_op[s.op][k], v)
                else:
                    per_op[s.op][k] += v

    def per_call(ops, key):
        n = sum(calls[o] for o in ops)
        if key == "peak_exec_mem_bytes":
            return max([per_op[o][key] for o in ops] or [0.0])
        return sum(per_op[o][key] for o in ops) / n if n else 0.0

    out = {}
    agg = LAYER_OPS["spark.agg"]
    for m, k in [("stage_run_s", "run_s"), ("stage_cpu_s", "cpu_s"), ("shuffle_write_bytes", "shuffle_write_bytes"),
                 ("shuffle_records", "shuffle_records"), ("python_bytes_sent", "python_bytes_sent"),
                 ("spill_bytes", "spill_bytes"), ("peak_exec_mem_bytes", "peak_exec_mem_bytes"), ("tasks", "tasks")]:
        out[f"spark.agg.{m}"] = per_call(agg, k)
    sk = LAYER_OPS["spark.sketch_agg"]
    for m in ("shuffle_write_bytes", "python_bytes_sent", "spill_bytes", "peak_exec_mem_bytes"):
        out[f"spark.sketch_agg.{m}"] = per_call(sk, m)
    reads = ["read_window"]
    out["pipelines.sketch_table.bytes_read_per_query"] = per_call(reads, "bytes_read")
    out["pipelines.sketch_table.files_read_per_query"] = per_call(reads, "files_read")
    out["pipelines.sketch_table.bytes_written_per_merge"] = per_call(["write_merge"], "bytes_written")
    dd = LAYER_OPS["operators.dedup"]
    out["operators.dedup.shuffle_write_bytes"] = per_call(dd, "shuffle_write_bytes")
    out["operators.dedup.spill_bytes"] = per_call(dd, "spill_bytes")
    out["operators.contamination.shuffle_write_bytes"] = per_call(["contamination_bloom"], "shuffle_write_bytes")
    return out


# ---------------------------------------------------------- direct calls --


def _median_time(fn, reps: int = 5) -> float:
    """Median wall time of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe_layers(inp: dict) -> dict:
    """Direct timed calls into the pure-Python layers on the workload's
    own values: ``strings`` (urls or tokens), ``blobs`` (stored or freshly
    built HLL sketches) and ``values`` (numbers for the quantile sketch)."""
    from js_hll_spark import HLL, HLLConfig, codec
    from js_hll_spark.core.bloom import BloomFilter
    from js_hll_spark.core.cms import CountMinSketch
    from js_hll_spark.core.kll import KLLSketch
    from js_hll_spark.hashing import murmur3_64_bytes

    strings, blobs, values = inp["strings"], inp["blobs"], inp["values"]
    n = len(strings)
    hashes = murmur3_64_bytes(strings)
    out = {"hashing.murmur3_ns_per_value": _median_time(lambda: murmur3_64_bytes(strings)) / n * 1e9}
    cfg = HLLConfig(13, 5)
    out["core.hll.update_ns_per_hash"] = _median_time(lambda: HLL(cfg).add_raw64(hashes)) / n * 1e9
    sketches = [codec.decode(b) for b in blobs]
    out["codec.decode_us"] = _median_time(lambda: [codec.decode(b) for b in blobs]) / len(blobs) * 1e6
    out["codec.encode_us"] = _median_time(lambda: [codec.encode(s) for s in sketches]) / len(blobs) * 1e6

    def union_all():
        acc = sketches[0].clone()
        for s in sketches[1:]:
            acc.union(s)

    out["core.hll.union_us"] = _median_time(union_all) / len(blobs) * 1e6
    out["core.hll.estimate_us"] = _median_time(lambda: [s.cardinality() for s in sketches]) / len(blobs) * 1e6

    def cms():
        CountMinSketch(5, 8192).update_hashed(hashes)

    out["core.cms.update_ns_per_item"] = _median_time(cms) / n * 1e9

    def kll():
        s = KLLSketch(200)
        for chunk in np.array_split(values, 8):
            s.update(chunk)

    out["core.kll.update_ns_per_item"] = _median_time(kll) / len(values) * 1e9
    bloom = BloomFilter.for_capacity(n // 2, 1e-3)
    bloom.add_hashed(hashes[: n // 2])
    out["core.bloom.probe_ns_per_item"] = _median_time(lambda: bloom.contains_hashed(hashes)) / n * 1e9
    return out
