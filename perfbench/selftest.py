"""Self-tests of the benchmark itself (not of the library).

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks that the generators are seeded
(same seed: byte-identical inputs and truth; other seed: other inputs),
that every metric name is well formed and matches ``BENCHMARK.json``,
that every metric of the benchmark's specification is emitted or
documented as absent, and that the ``jobs_at_build`` counter reads 0 for a pure
plan build and 1 for a build that runs one eager job. Exits non-zero on
the first failure.
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import common  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")

# every metric the benchmark's specification names, end-to-end then per layer
SPEC_E2E = [
    "setup_s", "rows_per_s", "read_p50_s", "read_tail_s", "write_p50_s", "op_p50_s", "op_tail_s",
    "ops_failed_frac", "max_rel_err", "table_bytes", "peak_rss_mb",
]
SPEC_LAYERS = (
    [f"spark.agg.{m}" for m in ("calls", "build_s", "jobs_at_build", "action_s", "stage_run_s", "stage_cpu_s",
                                "shuffle_write_bytes", "shuffle_records", "python_bytes_sent", "spill_bytes",
                                "peak_exec_mem_bytes", "tasks")]
    + ["hashing.murmur3_ns_per_value", "core.hll.union_us", "core.hll.estimate_us", "core.hll.update_ns_per_hash",
       "codec.decode_us", "codec.encode_us"]
    + [f"pipelines.sketch_table.{m}" for m in ("query_build_s", "query_action_s", "jobs_at_build",
                                               "bytes_read_per_query", "files_read_per_query", "merge_s",
                                               "jobs_per_merge", "bytes_written_per_merge")]
    + ["spark.functions.action_s"]
    + [f"spark.sketch_agg.{m}" for m in ("calls", "build_s", "jobs_at_build", "action_s", "shuffle_write_bytes",
                                         "python_bytes_sent", "spill_bytes", "peak_exec_mem_bytes")]
    + ["core.cms.update_ns_per_item", "core.kll.update_ns_per_item", "core.bloom.probe_ns_per_item"]
    + [f"operators.dedup.{m}" for m in ("dedup_exact.action_s", "near_dup.action_s", "jobs_at_build",
                                        "shuffle_write_bytes", "spill_bytes", "candidate_pairs", "verified_pairs",
                                        "pair_yield")]
    + [f"operators.contamination.{m}" for m in ("action_s", "jobs_at_build", "shuffle_write_bytes")]
    + ["jvm.gc_s", "jvm.peak_heap_mb"]
)
# the benchmark names its tail percentile: the *_tail_s of the
# specification are the p90 of a run's samples (run.py records the
# percentile as "tail_percentile")
ALIASES = {"op_tail_s": "op_p90_s", "read_tail_s": "read_p90_s"}
# absent on purpose, with the reason (empty: Spark 4.1.2 reports all)
DOCUMENTED_ABSENT: dict[str, str] = {}


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_generators() -> None:
    a, b, c = gen.pages(7, 20_000, 10), gen.pages(7, 20_000, 10), gen.pages(8, 20_000, 10)
    ta, tb, tc = (parquet_bytes(gen.pages_table(p)) for p in (a, b, c))
    check(ta == tb, "pages: same seed gives byte-identical parquet")
    check(gen.page_truth(a, 10) == gen.page_truth(b, 10), "pages: same seed gives identical truth")
    check(ta != tc, "pages: another seed gives other inputs")
    a, b, c = gen.corpus(7, 2_000), gen.corpus(7, 2_000), gen.corpus(8, 2_000)
    ta, tb, tc = (parquet_bytes(gen.corpus_table(x)) for x in (a, b, c))
    check(ta == tb, "corpus: same seed gives byte-identical parquet")
    ra, rb = gen.corpus_truth(a, 20), gen.corpus_truth(b, 20)
    same = all(
        (ra[k] == rb[k]) if k != "lengths_by_lang"
        else all((ra[k][x] == rb[k][x]).all() for x in ra[k]) and ra[k].keys() == rb[k].keys()
        for k in ra
    )
    check(same, "corpus: same seed gives identical truth")
    check(ta != tc, "corpus: another seed gives other inputs")


def record_names() -> set:
    """End-to-end names the run record carries, from synthetic samples of
    every operation kind (run.py adds the last three)."""
    samples = [
        common.Sample(op, kind, 0, 10, 0.1, 0.2 + i / 10, 0.5, True, 0.01)
        for i, (op, kind) in enumerate([("a", "batch"), ("b", "read"), ("c", "write")])
    ]
    return set(common.summarize(samples)) | {"peak_rss_mb", "table_bytes", "setup_s"}


def layer_names() -> set:
    """Per-layer names a traced run emits, from synthetic inputs."""
    from js_hll_spark import HLL

    samples = [common.Sample(op, "batch", 1, 10, 0.1, 0.2, 0.5, True, None)
               for ops in tracing.LAYER_OPS.values() for op in ops]
    trace = {"traced_samples": samples}
    dirs = {"eventlog": os.path.join(HERE, "no-such-dir")}
    blob = HLL().add_raw64(np.arange(1, 100, dtype=np.uint64) * 0x9E3779B97F4A7C15).to_bytes()
    probes = tracing.probe_layers({"strings": ["a", "bb", "ccc"] * 10, "blobs": [blob, blob],
                                   "values": np.arange(100.0)})
    fixed = {"jvm.gc_s", "jvm.peak_heap_mb", "pipelines.sketch_table.table_bytes"} | {
        n for n in tracing.UNITS if n.startswith("trace.")}
    return set(tracing.span_metrics(samples)) | set(tracing.finish(trace, dirs)) | set(probes) | fixed


def test_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    record, emitted = record_names(), layer_names()
    names = list(e2e) + list(layers) + list(record) + list(emitted)
    check(all(NAME.fullmatch(n) for n in names), "every metric name matches [A-Za-z0-9_.-]+")
    check(e2e == run.E2E_UNITS, "BENCHMARK.json end_to_end equals what --trace 0 prints")
    check(layers == tracing.UNITS, "BENCHMARK.json per_layer equals what --trace 1 prints")
    check(emitted == set(tracing.UNITS), "a traced run emits exactly the per-layer metrics it declares")
    missing = [n for n in SPEC_E2E if ALIASES.get(n, n) not in record and n not in DOCUMENTED_ABSENT]
    check(not missing, f"every specified end-to-end metric is in the run record {missing or ''}")
    missing = [n for n in SPEC_LAYERS if n not in emitted and n not in DOCUMENTED_ABSENT]
    check(not missing, f"every specified per-layer metric is emitted {missing or ''}")


def test_jobs_at_build() -> None:
    dirs = common.work_dirs(os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}"))
    os.environ["TMPDIR"] = dirs["tmp"]
    spark = common.start_session(dirs, event_log=False)
    try:
        loop = common.Loop(spark, traced=True)
        ok = lambda _: (True, None, "")  # noqa: E731
        collect = lambda df: df.collect()  # noqa: E731
        pure = common.Op("pure", 1, lambda: spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count(),
                         collect, ok)
        eager = common.Op("eager", 1, lambda: spark.createDataFrame(spark.range(10).collect()), collect, ok)
        s0, s1 = loop.run(pure, 0), loop.run(eager, 0)
        check(s0.jobs_at_build == 0 and s0.jobs_at_action >= 1,
              f"jobs_at_build reads 0 for a pure plan build ({s0.jobs_at_build}, action {s0.jobs_at_action})")
        check(s1.jobs_at_build == 1, f"jobs_at_build reads 1 for a build with one eager job ({s1.jobs_at_build})")
    finally:
        common.stop_jvm(spark)
        shutil.rmtree(os.path.dirname(dirs["tmp"]), ignore_errors=True)


if __name__ == "__main__":
    test_generators()
    test_names()
    test_jobs_at_build()
    print("all self-tests passed")
