"""Capture .explain("formatted") for the BENCH-ONLY flagship queries
(webtext_ndv_url / webtext_ndv_by_lang — hll_ndv over the 24M-row
webtext table, exactly bench.py's shape: partitions = CPUS*4, cached)
into plans/r07/<name>_<suffix>.txt. The registry dump tool cannot cover
these because they are constructed inline in bench.py, not registered.

usage: python tools/dump_flagship_plans.py <suffix>
env: SPARK_GRAFT_CPUS, SPARK_GRAFT_FLAGSHIP_ROWS (default 24M).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit("usage: python tools/dump_flagship_plans.py <suffix>")
    suffix = sys.argv[1]
    from js_hll_spark.sources.webtext import webtext_table
    from js_hll_spark.spark.agg import hll_ndv
    from js_hll_spark.spark.session import get_spark

    spark = get_spark(
        "dump-flagship-plans",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_ROWS", 24_000_000))
    pages = webtext_table(
        spark, n, partitions=int(CPUS) * 4, columns=("url", "lang")
    ).cache()
    pages.count()
    out_dir = os.path.join(ROOT, "plans", "r07")
    os.makedirs(out_dir, exist_ok=True)
    for name, df in (
        ("webtext_ndv_url", hll_ndv(pages, "url", log2m=13)),
        ("webtext_ndv_by_lang", hll_ndv(pages, "url", by=["lang"], log2m=13)),
    ):
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
