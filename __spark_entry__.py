"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()``/``oracle_sql()``
expose every implemented operator (SURVEY.md §2) with DuckDB oracles for
the exact ones. Sketch estimates are rows-only by design (approximate);
their accuracy is asserted in pytest within 1.04/sqrt(2^log2m).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: approximate NDV(text) per lang on sf0.001 documents,
    joined against the exact count with the realized relative error —
    one pass through hash -> partial -> shuffle -> merge -> estimate."""
    from oracle.queries import _ship
    from js_hll_spark.spark.agg import hll_ndv

    _ship(spark)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    approx = hll_ndv(docs, "text", by=["lang"], log2m=13)
    exact = docs.groupBy("lang").agg(F.countDistinct("text").alias("ndv_exact"))
    return (
        approx.join(exact, "lang")
        .select(
            "lang",
            "ndv",
            "ndv_exact",
            F.round(
                F.abs(F.col("ndv") - F.col("ndv_exact"))
                / F.greatest(F.col("ndv_exact"), F.lit(1)),
                6,
            ).alias("rel_err"),
        )
        .orderBy("lang")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from oracle.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from oracle.queries import ORACLES

    return dict(ORACLES)
