"""Generate PLANS.md: the formatted physical plans of the headline
queries, with the properties each plan must exhibit called out. The
same properties are asserted programmatically in
tests/test_plan_quality.py; this artifact makes them reviewable.
Besides the registry queries it dumps the sketch-table pruned read and
bench.py's two inline flagship queries (``hll_ndv`` over the cached
webtext table, CPUS x 4 partitions — the plan does not depend on the
row count, so a small table stands in for bench.py's 24M rows).

usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# (query name, what to check in the plan)
SHOWCASE = [
    (
        "scan_filter_project",
        "Filter and projection reach the parquet scan: PushedFilters is "
        "populated and ReadSchema carries only the selected columns.",
    ),
    (
        "hll_ndv_by_lang",
        "The sql engine's whole per-row path (xxhash64, register index, "
        "rho via bit_count) sits inside WholeStageCodegen; the partial "
        "HashAggregate collapses each partition to <= m rows per key "
        "BEFORE the exchange, so the shuffle carries register rows, "
        "never data rows; collect_list packs each group's registers "
        "into one row and one hll_assemble MapInArrow places them — no "
        "pandas step.",
    ),
    (
        "join_broadcast_agg",
        "The small dimension side is a BroadcastExchange / "
        "BroadcastHashJoin — no shuffle of the fact side for the join.",
    ),
    (
        "minhash_lsh",
        "Shingles explode ONCE, k min-aggregations partially aggregate "
        "map-side, and candidates come from ONE groupBy on "
        "(band_idx, band_hash) whose sorted member lists a codegen "
        "Generate explodes into pairs — hash keys, skew-free; no join "
        "and no cartesian product anywhere.",
    ),
    (
        "ngram_jaccard",
        "The registered tier carries the hot-shingle df cap as an "
        "aggregate + left-anti join (no window sort), and intersections "
        "are counted from per-shingle id lists grouped on the 8-byte "
        "xxhash64 of the shingle, not the string.",
    ),
    (
        "dedup_pipeline_fast",
        "The 100 TB path end to end, dumped after an action so the final "
        "adaptive plan shows the sharing: the posting table is shuffled "
        "once by __id (one Scan parquet of documents, one MapInArrow "
        "shingle_kernel), and the signatures and both verify legs read "
        "that exchange (ReusedExchange), with no checkpoint (the df cap's "
        "hot set is empty at this scale, so AQE dropped its anti-join); "
        "pure-codegen xxhash64 signatures, band-bucket groupBy + pair "
        "Generate candidates, candidates-first verification "
        "(intersection cost proportional to the candidate set).",
    ),
    (
        "hll_ndv_global",
        "Flagship shape (the bench's webtext_ndv_url, below, adds only "
        "its cached scan): scan -> Coalesce to the core count (no "
        "partition probe; it keeps fewer partitions as they are) -> "
        "codegen hash/rho -> partial agg -> exchanges of register rows "
        "only (<= m per partition) -> single-group assembly.",
    ),
    (
        "sample_fixed",
        "Deterministic fixed-size sampling runs as TakeOrderedAndProject "
        "(per-partition local top-n, one n-row merge at the driver) — "
        "never a full sort shuffle, any table size.",
    ),
    (
        "contamination_check",
        "Decontamination, exact tier: ONE pass over the training posting "
        "chain (left join against the hash-distinct eval shingle keys + "
        "a single sum aggregate — no second scan for sizes); the eval "
        "side is broadcast by AQE when it fits, with no pinned hint. "
        "The Bloom tier replaces the join entirely with a KB broadcast "
        "VARIABLE, probed inside ONE Arrow map per side: window, numpy "
        "xxhash64, probe and per-doc counts in one Python runner (a "
        "crossJoin against a blob row would stamp the binary onto every "
        "posting row).",
    ),
]


def main() -> None:
    from js_hll_spark.sources.webtext import webtext_table
    from js_hll_spark.spark.agg import hll_ndv
    from js_hll_spark.spark.session import get_spark
    from oracle.queries import QUERIES

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py` at {SF_DIR} "
        "(plan shape is SF-independent). Each section states the "
        "property the plan must show; `tests/test_plan_quality.py` "
        "asserts the same properties in CI fashion.",
        "",
    ]
    # the "query many" side of the sketch-table pattern: a partition
    # predicate on the stored sketches must prune at the scan
    import tempfile

    from js_hll_spark.pipelines import sketch_table

    tbl = tempfile.mkdtemp(prefix="plans_sketch_table_")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sketch_table.build_sketch_table(
        docs, "text", tbl, partition_col="source", by=["lang"], log2m=13
    )
    pruned = sketch_table.read_sketch_table(spark, tbl).filter(
        "source = 'src3'"
    )
    extra = [
        (
            "sketch_table pruned read",
            "A source predicate on the stored sketch table appears as "
            "PartitionFilters — a time/shard-ranged NDV question over "
            "years of data opens only the matching sketch directories.",
            pruned,
        )
    ]
    # bench.py's flagship shape: hll_ndv over the cached webtext table
    pages = webtext_table(
        spark, 100_000, partitions=spark.sparkContext.defaultParallelism * 4,
        columns=("url", "lang"),
    ).cache()
    extra += [
        (
            "webtext_ndv_url (bench flagship)",
            "The bench headline, unkeyed: the codegen hash/rho path runs "
            "over the InMemoryTableScan of the cached pages, coalesced to "
            "the core count (Coalesce, no partition probe) before the "
            "partial aggregate; only register rows (<= m per partition) "
            "cross the exchanges, and one hll_assemble MapInArrow builds "
            "the single group's sketch.",
            hll_ndv(pages, "url", log2m=13),
        ),
        (
            "webtext_ndv_url over a caller's groupBy(url, lang)",
            "The same build over an aggregated input: no Coalesce, so "
            "Catalyst's RemoveRedundantAggregates drops the caller's "
            "groupBy under the register max, and the partial aggregate "
            "reads the cached pages directly.",
            hll_ndv(pages.groupBy("url", "lang").count(), "url", log2m=13),
        ),
        (
            "webtext_ndv_by_lang (bench flagship)",
            "The keyed flagship: the same codegen path over the cached "
            "pages with no Coalesce (keyed builds keep the input "
            "partitioning), a (lang, register) partial aggregate before the "
            "exchange, and one hll_assemble MapInArrow over one packed "
            "register row per lang.",
            hll_ndv(pages, "url", by=["lang"], log2m=13),
        ),
    ]

    sections = [
        (name, why, QUERIES[name](spark, SF_DIR)) for name, why in SHOWCASE
    ] + extra
    for name, why, df in sections:
        if name == "dedup_pipeline_fast":
            df.collect()  # exchange reuse shows in the final plan only
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # strip volatile ids so regeneration diffs stay reviewable
        plan = re.sub(r"#\d+L?", "#x", plan)
        plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=x]", plan)
        plan = re.sub(r"RDD\[\d+\]", "RDD[x]", plan)
        plan = re.sub(r"sketch_table_\w+", "sketch_table_TMP", plan)
        # lambda variables carry a session-wide counter: renumber per plan
        lam: dict = {}
        plan = re.sub(
            r"(lambda \w+?_)(\d+)\b",
            lambda m: m.group(1) + str(lam.setdefault(m.group(2), len(lam) + 1)),
            plan,
        )
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Must hold:** {why}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    pages.unpersist()
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(sections)} plans)")


if __name__ == "__main__":
    main()
