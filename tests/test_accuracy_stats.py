"""Statistical accuracy test (SURVEY.md §5.2-4, BASELINE row 8): across
many seeded trials the empirical RMS relative error must sit at or below
the published 1.04/sqrt(2^log2m) within sampling noise."""

from __future__ import annotations

import math

import numpy as np
import pytest

from js_hll_spark import HLL, HLLConfig

TRIALS = 24
N = 50_000


@pytest.mark.parametrize("log2m", [10, 11, 12, 13, 14])
def test_rms_relative_error_within_bound(log2m):
    # keep n >> m: the uncorrected estimator has a known error hump in the
    # transition region n ~ 2.5m..5m (the reason HLL++ adds bias
    # correction; js-hll does not, and we are faithful to it)
    n = max(N, 30 * (1 << log2m))
    errs = []
    for t in range(TRIALS):
        values = np.random.default_rng(1000 * log2m + t).integers(
            0, 2 ** 63, n, dtype=np.uint64
        )
        s = HLL(HLLConfig(log2m, 5), explicit_threshold=0, sparse_on=False)
        s.add_raw64(values)
        errs.append((s.algorithm_cardinality() - n) / n)
    rms = math.sqrt(sum(e * e for e in errs) / len(errs))
    bound = 1.04 / math.sqrt(2 ** log2m)
    # chi-square upper fluctuation for 24 trials ~ 1.35x
    assert rms <= 1.35 * bound, (log2m, rms, bound)


def test_error_scales_with_precision():
    """Doubling m should shrink RMS error by ~sqrt(2) on average."""
    values = [
        np.random.default_rng(50 + t).integers(0, 2 ** 63, N, dtype=np.uint64)
        for t in range(TRIALS)
    ]

    def rms(log2m):
        errs = []
        for v in values:
            s = HLL(HLLConfig(log2m, 5), explicit_threshold=0)
            s.add_raw64(v)
            errs.append((s.algorithm_cardinality() - N) / N)
        return math.sqrt(sum(e * e for e in errs) / len(errs))

    assert rms(14) < rms(10)


def test_bound_check_query_margin(spark):
    """The ORACLED accuracy-contract query (q_hll_ndv_bound_check) must
    not merely return within_bound=true — the realized per-lang relative
    error at gate scale must sit comfortably inside the 3-sigma bound
    (margin >= 2x), so the driver-witnessed boolean cannot flip on a
    data refresh that nudges NDVs within the same magnitude."""
    from pyspark.sql import functions as F

    from js_hll_spark.config import HLLConfig
    from oracle.queries import QUERIES, _t
    from js_hll_spark.spark.agg import hll_ndv

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = QUERIES["hll_ndv_bound_check"](spark, sf).collect()
        assert rows and all(r.within_bound for r in rows), sf

    # margin at the GATE's scale factor (sf0.01; sf0.001's smallest
    # group has NDV 64 where integer estimate granularity alone is ~2%)
    sf = "/root/testdata/sf0.01"
    docs = _t(spark, sf, "documents")
    approx = hll_ndv(docs, "text", by=["lang"], log2m=13)
    exact = docs.groupBy("lang").agg(
        F.countDistinct("text").alias("ndv_exact")
    )
    errs = (
        approx.join(exact, "lang")
        .select(
            (F.abs(F.col("ndv") - F.col("ndv_exact")) / F.col("ndv_exact")).alias("e")
        )
        .collect()
    )
    bound = 3.0 * HLLConfig(log2m=13).relative_error
    assert max(r.e for r in errs) <= bound / 2.0, (max(r.e for r in errs), bound)


def test_murmur3_bound_check_query_margin(spark):
    """Same contract as the sql-engine margin test, for the murmur3
    family (hll_ndv_murmur3_bound): within_bound at both gate SFs and
    >= 2x margin at sf0.01."""
    from pyspark.sql import functions as F

    from js_hll_spark.config import HLLConfig
    from oracle.queries import QUERIES, _t
    from js_hll_spark.spark.agg import hll_ndv

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = QUERIES["hll_ndv_murmur3_bound"](spark, sf).collect()
        assert rows and all(r.within_bound for r in rows), sf

    sf = "/root/testdata/sf0.01"
    docs = _t(spark, sf, "documents")
    approx = hll_ndv(
        docs, "text", by=["lang"], log2m=12, hash_method="murmur3"
    )
    exact = docs.groupBy("lang").agg(F.countDistinct("text").alias("x"))
    errs = (
        approx.join(exact, "lang")
        .select((F.abs(F.col("ndv") - F.col("x")) / F.col("x")).alias("e"))
        .collect()
    )
    bound = 3.0 * HLLConfig(log2m=12).relative_error
    assert max(r.e for r in errs) <= bound / 2.0, (max(r.e for r in errs), bound)
