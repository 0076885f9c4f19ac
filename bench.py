"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": docs_per_sec, "unit": "docs/sec", "queries": {...}, "sf": ...}

The headline metric is flagship NDV(doc surrogate) throughput in docs/sec
over the biggest table (lineitem at sf0.1 ~ 600k rows) — workload shape
mirrors the reference stress harness (insert-heavy, merge-light,
estimate-rare; /root/reference/test/stress-test.html:25-26).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from oracle.queries import QUERIES
    from js_hll_spark.spark.agg import hll_ndv, hll_sketch
    from js_hll_spark.spark.blocks import persistent_rdd_ids, unpersist_blocks
    from js_hll_spark.spark.session import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    # sf parquet ships as a single row group -> one scan split; repartition
    # into the cache so the benched queries actually use all cores
    lineitem = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .repartition(int(CPUS))
        .cache()
    )
    n_rows = lineitem.count()  # also warms the cache

    # untimed warm-up: first query in a fresh JVM pays JIT + python-worker
    # startup (~2-3 s fixed); throughput numbers should not include it
    hll_ndv(lineitem.limit(50_000), "l_orderkey", log2m=10).collect()

    # block hygiene (VERDICT r4 #1): composed dedup/cube queries pin
    # localCheckpoint blocks that NOTHING releases — across 3 reps x 27
    # queries in one JVM they accumulate until later queries degrade
    # 2-4x (r4 artifact: dedup_clusters 3.3->14.2 s, ann_bruteforce
    # 2.1x). Sweep retired blocks after every rep, protecting the
    # cached input tables by persistent-RDD id (a blanket sweep would
    # silently uncache them for the rest of the run).
    keep = {"ids": persistent_rdd_ids(spark)}

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def median3(fn):
        # single-shot timings on this box vary +-40% with host load;
        # medians make round-over-round comparisons signal, not noise
        ts = []
        for _ in range(3):
            ts.append(timed(fn))
            unpersist_blocks(spark, keep["ids"])
        return sorted(ts)[1]

    results: dict[str, float] = {}

    # flagship: global NDV over the largest column set
    results["hll_ndv_global"] = median3(
        lambda: hll_ndv(lineitem, "l_orderkey", log2m=13).collect()
    )

    # flagship on the CC-style webtext table (the north-star input shape):
    # 24M generated pages (url+lang columns only — the 1M-row version was
    # fixed-overhead dominated: ~1.5 s against a ~0.7 s per-query floor).
    # Median of 3 timings: single-shot Spark timings on this box vary.
    from js_hll_spark.sources.webtext import webtext_table

    n_flagship = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_ROWS", 24_000_000))
    pages = webtext_table(
        spark, n_flagship, partitions=int(CPUS) * 4, columns=("url", "lang")
    ).cache()
    n_pages = pages.count()  # materializes the cache, untimed
    keep["ids"] = persistent_rdd_ids(spark)  # protect pages too

    results["webtext_ndv_url"] = median3(
        lambda: hll_ndv(pages, "url", log2m=13).collect()
    )
    results["webtext_ndv_by_lang"] = median3(
        lambda: hll_ndv(pages, "url", by=["lang"], log2m=13).collect()
    )
    webtext_docs_per_sec = n_pages / results["webtext_ndv_url"]
    pages.unpersist()
    keep["ids"] = persistent_rdd_ids(spark)  # pages retired from the keep set
    results["hll_ndv_grouped"] = median3(
        lambda: hll_sketch(
            lineitem, "l_partkey", by=["l_returnflag", "l_linestatus"], log2m=13
        ).collect()
    )

    bench_queries = [
        "exact_ndv_by_lang",
        "window_topk",
        "quantiles_exact",
        "token_count",
        "quality_score",
        "dedup_exact",
        "minhash_lsh",
        "ngram_jaccard",
        "dedup_pipeline",
        "dedup_pipeline_fast",
        "dedup_clusters",
        "ann_bruteforce",
        "simhash_signatures",
        "simhash_fast",
        "minhash_lsh_fast",
        "token_count_bpe",
        "sessionize",
        "dedup_keep_rows",
        "hll_ndv_by_lang",
        "hll_ndv_events_hourly",
        "hll_sketch_rollup",
        "hll_sketch_cube",
        "hll_ndv_events_sliding",
        "hll_union_agg_sql",
        "video_frame_sums",
        "heavy_hitters_cms",
        "clean_corpus",
        "contamination_check",
        "contamination_bloom",
        "redact_pii",
        "hll_ndv_bound_check",
    ]
    for name in bench_queries:
        fn = QUERIES[name]
        try:
            results[name] = median3(lambda f=fn: f(spark, SF_DIR).collect())
        except Exception as e:  # keep the bench line intact
            print(f"bench {name} failed: {e}", file=sys.stderr)
            results[name] = -1.0

    flagship = results["webtext_ndv_url"]
    docs_per_sec = n_pages / flagship if flagship > 0 else 0.0
    print(
        json.dumps(
            {
                "metric": "flagship NDV(url) throughput docs/sec on the CC-style webtext table",
                "value": round(docs_per_sec, 1),
                "unit": "docs/sec",
                "queries": {k: round(v, 3) for k, v in results.items()},
                "sf": SF_DIR,
                "rows": n_rows,
                "webtext_rows": n_pages,
                "webtext_docs_per_sec": round(webtext_docs_per_sec, 1),
                "cpus": int(CPUS),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
