"""Spark-level tests for the two-phase sketch aggregation harness
(SURVEY.md §5.2-3): estimates vs exact countDistinct within the published
bound, partition-order invariance at the DataFrame level, rollup semantics,
and scalar sketch-column functions."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from js_hll_spark import HLL
from js_hll_spark.spark.agg import hll_ndv, hll_rollup, hll_sketch
from js_hll_spark.spark.functions import (
    hll_cardinality_udf,
    hll_from_hex_udf,
    hll_to_hex_udf,
    hll_union_pair_udf,
)

BOUND = lambda log2m: 1.04 / math.sqrt(2 ** log2m)  # noqa: E731
HASH_METHODS = ("xxhash64", "murmur3", "raw")


def _hash_input(df, value_col, hash_method):
    """(frame, column) to sketch with ``hash_method``: 'raw' sketches a
    column of precomputed xxhash64 values (NULL where the value is)."""
    if hash_method != "raw":
        return df, value_col
    h = F.when(F.col(value_col).isNotNull(), F.xxhash64(value_col))
    return df.withColumn("__raw", h), "__raw"


def _core_reference(df, value_col, keys=(), *, hash_method, log2m, regwidth=5):
    """{key tuple: (sketch bytes, ndv, rows_seen)} built per group from
    the collected rows by the core HLL, the golden-vector-pinned
    reference. A global call has one group even on empty input."""
    import numpy as np

    from js_hll_spark import HLLConfig
    from js_hll_spark.core.hll import estimate_from_registers
    from js_hll_spark.hashing import murmur3_64_bytes, murmur3_64_uint64

    keys = list(keys)
    v = F.xxhash64(value_col) if hash_method == "xxhash64" else F.col(value_col)
    groups = {} if keys else {(): []}
    for r in df.filter(F.col(value_col).isNotNull()).select(*keys, v.alias("__v")).collect():
        groups.setdefault(tuple(r[k] for k in keys), []).append(r["__v"])
    config = HLLConfig(log2m, regwidth)
    out = {}
    for k, vals in groups.items():
        if hash_method == "murmur3" and vals and not isinstance(vals[0], int):
            h = murmur3_64_bytes(vals)
        else:
            h = np.array(vals, dtype=np.int64).view(np.uint64)
            if hash_method == "murmur3":
                h = murmur3_64_uint64(h)
        s = HLL(config, explicit_threshold=0, sparse_on=False)
        s.add_raw64(h)
        out[k] = (s.to_bytes(), estimate_from_registers(s._regs, config), len(vals))
    return out


def _by_key(sketched, keys=()):
    return {
        tuple(r[k] for k in keys): (bytes(r["sketch"]), r["ndv"], r["rows_seen"])
        for r in sketched.collect()
    }


def test_global_ndv_events(spark, events):
    exact = events.select(F.countDistinct("user_id")).first()[0]
    est = hll_ndv(events, "user_id", log2m=13).first()["ndv"]
    assert abs(est - exact) / exact < 3 * BOUND(13)


def test_grouped_ndv_matches_exact(spark, events):
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["ndv"]
        for r in hll_ndv(events, "user_id", by=["event_type"], log2m=13).collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) / max(exact[k], 1) < 3 * BOUND(13), k


def test_partition_order_invariance_spark(spark, documents):
    """Bit-identical merged sketch regardless of partitioning (the
    BASELINE merge clause, at the DataFrame level), equal to the core
    reference — every hash method."""
    for method in HASH_METHODS:
        df, col = _hash_input(documents, "text", method)
        ref = _core_reference(df, col, hash_method=method, log2m=11)
        a = _by_key(hll_sketch(df, col, log2m=11, hash_method=method))
        shuffled = df.repartition(16, "doc_id")
        b = _by_key(hll_sketch(shuffled, col, log2m=11, hash_method=method))
        assert a == b == ref, method


def test_engines_bit_identical(spark, events):
    """Every hash method's dense sketches, estimates and rows_seen are
    byte-identical to a per-group core HLL build."""
    for method in HASH_METHODS:
        df, col = _hash_input(events, "user_id", method)
        got = _by_key(
            hll_sketch(df, col, by=["event_type"], log2m=12, hash_method=method),
            ["event_type"],
        )
        ref = _core_reference(df, col, ["event_type"], hash_method=method, log2m=12)
        assert got == ref, method


def test_rows_seen_accounting(spark, events):
    out = hll_sketch(events, "user_id", by=["event_type"], log2m=10).collect()
    total = sum(r["rows_seen"] for r in out)
    assert total == events.count()


def test_rollup_from_persisted_sketches(spark, events, tmp_path):
    """Sketch at fine grain, roll up to coarse grain via union only —
    estimate must be bit-identical to sketching coarse directly."""
    fine = hll_sketch(
        events.withColumn("day", F.to_date("ts")),
        "user_id",
        by=["event_type", "day"],
        log2m=11,
    )
    path = str(tmp_path / "sketches")
    fine.write.parquet(path)
    persisted = spark.read.parquet(path)
    coarse = {
        r["event_type"]: bytes(r["sketch"])
        for r in hll_rollup(persisted, ["event_type"]).collect()
    }
    direct = {
        r["event_type"]: bytes(r["sketch"])
        for r in hll_sketch(events, "user_id", by=["event_type"], log2m=11).collect()
    }
    assert coarse == direct


def test_scalar_udfs_roundtrip(spark, events):
    sk = hll_sketch(events, "user_id", log2m=11)
    row = (
        sk.select(
            hll_cardinality_udf("sketch").alias("card"),
            hll_to_hex_udf("sketch").alias("hex"),
        )
        .select("card", hll_from_hex_udf("hex").alias("back"), "hex")
        .first()
    )
    assert row["hex"].startswith("/x14")
    assert (
        HLL.from_bytes(bytes(row["back"])).algorithm_cardinality() == row["card"]
    )


def test_union_pair_udf(spark, events):
    a = hll_sketch(
        events.filter("event_id % 2 = 0"), "user_id", log2m=11
    ).select(F.col("sketch").alias("a"))
    b = hll_sketch(
        events.filter("event_id % 2 = 1"), "user_id", log2m=11
    ).select(F.col("sketch").alias("b"))
    both = a.crossJoin(b).select(
        hll_cardinality_udf(hll_union_pair_udf("a", "b")).alias("card")
    )
    direct = hll_sketch(events, "user_id", log2m=11).first()["ndv"]
    assert both.first()["card"] == direct


def test_murmur3_hash_method(spark, events):
    """AK-convention murmur3 over an integral column, vectorized in the
    worker; estimate must still land within bound."""
    exact = events.select(F.countDistinct("user_id")).first()[0]
    est = hll_ndv(events, "user_id", log2m=12, hash_method="murmur3").first()["ndv"]
    assert abs(est - exact) / exact < 3 * BOUND(12)


def test_high_cardinality_group_keys(spark, events):
    """Group by a ~unique key (user_id): one row per key for every hash
    method, and estimates stay exact-ish for tiny groups."""
    exact = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    for method in ("xxhash64", "murmur3"):
        rows = hll_sketch(
            events, "event_id", by=["user_id"], log2m=10, hash_method=method
        ).collect()
        assert len(rows) == len(exact), method
        for r in rows:
            n = exact[r["user_id"]]
            assert abs(r["ndv"] - n) / max(n, 1) < 0.2, method


def test_extreme_skew_correct(spark):
    """95% of rows share one group key (Zipf worst case): the partial
    stage bounds the merge shuffle at one row per partition per key, and
    the result stays bit-identical to the balanced computation."""
    import pyspark.sql.functions as F

    n = 200_000
    df = spark.range(n).select(
        F.when(F.col("id") % 20 != 0, F.lit("hot")).otherwise(
            F.concat(F.lit("cold"), (F.col("id") % 7).cast("string"))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    skewed = hll_sketch(df.repartition(16), "v", by=["k"], log2m=12)
    rows = {r["k"]: (bytes(r["sketch"]), r["rows_seen"]) for r in skewed.collect()}
    exact = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert set(rows) == set(exact)
    assert rows["hot"][1] == n - n // 20
    for k, n_exact in exact.items():
        est = hll_sketch(df.filter(F.col("k") == k), "v", log2m=12).first()["ndv"]
        assert abs(est - n_exact) / n_exact < 3 * BOUND(12)


def test_murmur3_string_column(spark, documents):
    """AK-convention murmur3 over a STRING column (vectorized
    murmur3_64_bytes in the worker): estimate within bound and sketch
    bit-identical to a local numpy build with the same hash."""
    import numpy as np

    from js_hll_spark import HLL, HLLConfig
    from js_hll_spark.hashing import murmur3_64_bytes

    est_row = hll_sketch(documents, "text", log2m=12, hash_method="murmur3").first()
    texts = [r["text"] for r in documents.select("text").collect()]
    local = HLL(HLLConfig(12, 5), explicit_threshold=0, sparse_on=False)
    local.add_raw64(murmur3_64_bytes(texts))
    assert bytes(est_row["sketch"]) == local.to_bytes()
    exact = len(set(texts))
    assert abs(est_row["ndv"] - exact) / exact < 3 * BOUND(12)


def test_large_precision_configs(spark, events):
    """log2m=20 (1M registers, the 'tens of billions NDV' shape) and
    regwidth=8 run through the full Spark path for every hash method,
    equal to the core reference, with valid spec encoding."""
    exact = events.select(F.countDistinct("user_id")).first()[0]
    for method in HASH_METHODS:
        df, col = _hash_input(events, "user_id", method)
        got = _by_key(
            hll_sketch(df, col, log2m=20, regwidth=8, hash_method=method)
        )
        ref = _core_reference(df, col, hash_method=method, log2m=20, regwidth=8)
        assert got == ref, method
        sketch, ndv, _ = got[()]
        s = HLL.from_bytes(sketch)
        assert s.config.log2m == 20 and s.config.regwidth == 8
        # at n << m the estimator is in the linear-counting regime: tight
        assert abs(ndv - exact) / exact < 0.01, method


def test_sql_registered_functions(spark, documents):
    """The sketch functions work from spark.sql end to end: sketch table
    -> SQL union of two groups -> cardinality + hex round trip."""
    from js_hll_spark.spark.agg import hll_sketch
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    sk = hll_sketch(documents, "text", by=["lang"], log2m=12, estimate=True)
    sk.createOrReplaceTempView("sk_by_lang")
    row = spark.sql(
        """
        SELECT hll_cardinality(hll_union_pair(a.sketch, b.sketch)) AS ndv_ab,
               hll_cardinality(hll_from_hex(hll_to_hex(a.sketch))) AS ndv_rt,
               hll_cardinality(a.sketch) AS ndv_a,
               hll_cardinality(hll_fold(a.sketch, 10)) AS ndv_folded
        FROM sk_by_lang a JOIN sk_by_lang b
          ON a.lang = 'en' AND b.lang = 'de'
        """
    ).first()
    en = sk.filter("lang = 'en'").first()["ndv"]
    assert abs(row["ndv_rt"] - en) < 1e-9  # hex round trip is lossless
    assert abs(row["ndv_a"] - en) < 1e-9
    assert row["ndv_ab"] >= max(row["ndv_a"], 1.0)  # union >= each side
    # fold executes through SQL; accuracy on sparse register files is NOT
    # a fold property (fold==direct-build holds on dense input only —
    # test_fold_equals_direct_build pins that), so only sanity-check it
    assert 0 < row["ndv_folded"] <= row["ndv_a"]


def test_streaming_assembly_matches_pergroup_path(spark, events):
    """The batched Arrow kernels must be byte-identical to a per-group
    core build, including keys that straddle Arrow batch boundaries
    (forced with a tiny batch size) and high-cardinality keys."""
    sample = events.limit(3000).cache()
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        for method in HASH_METHODS:
            df, col = _hash_input(sample, "event_type", method)
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
            got = _by_key(
                hll_sketch(df, col, by=["user_id"], log2m=10, hash_method=method),
                ["user_id"],
            )
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)
            ref = _core_reference(df, col, ["user_id"], hash_method=method, log2m=10)
            assert got.keys() == ref.keys() and len(got) > 50, method
            for k in got:
                assert got[k] == ref[k], (method, k)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)
        sample.unpersist()


def test_keyed_assembly_null_group_keys(spark):
    """Null group keys must form ONE group in the batched assembly and
    rollup streams: Arrow->pandas surfaces nullable numeric keys as NaN,
    and NaN != NaN would otherwise emit one group per null-keyed row.
    Forces tiny Arrow batches so the null group also straddles batches."""
    from js_hll_spark.spark.agg import hll_rollup, hll_sketch

    rows = [(None if i % 3 == 0 else i % 5, f"v{i % 37}") for i in range(400)]
    df = spark.createDataFrame(rows, "grp int, val string")
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = hll_sketch(df, "val", by=["grp"], log2m=11, engine="sql").collect()
        assert len(got) == 6  # null + int groups 0..4
        by_key = {r["grp"]: r for r in got}
        assert None in by_key
        exact = {
            r["grp"]: r["n"]
            for r in df.groupBy("grp")
            .agg(F.countDistinct("val").alias("n"))
            .collect()
        }
        for k, r in by_key.items():
            assert abs(r["ndv"] - exact[k]) / exact[k] < 0.2, k
        # rollup stream over a null-keyed sketch table: same contract
        fine = hll_sketch(
            df, "val", by=["grp"], log2m=11, estimate=False
        )
        rolled = {r["grp"]: r["ndv"] for r in hll_rollup(fine, ["grp"]).collect()}
        assert set(rolled) == set(exact)
        for k in rolled:
            assert abs(rolled[k] - by_key[k]["ndv"]) < 1e-9, k
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)


def test_grouped_agg_udaf_matches_rollup(spark, documents):
    """hll_union_agg/hll_ndv_agg (pandas GROUPED_AGG — the postgresql-hll
    hll_union_agg surface as a true Spark aggregate expression) must be
    byte-identical to hll_rollup on the same sketch table, and usable
    from plain SQL GROUP BY."""
    from js_hll_spark.spark.functions import (
        hll_ndv_agg_udf,
        hll_union_agg_udf,
        register_sql_functions,
    )

    fine = hll_sketch(
        documents, "text", by=["lang", "source"], log2m=12, estimate=False
    ).cache()
    agg = {
        r["lang"]: (r["ndv"], bytes(r["sk"]))
        for r in fine.groupBy("lang")
        .agg(
            hll_ndv_agg_udf("sketch").alias("ndv"),
            hll_union_agg_udf("sketch").alias("sk"),
        )
        .collect()
    }
    rolled = {
        r["lang"]: (r["ndv"], bytes(r["sketch"]))
        for r in hll_rollup(fine, ["lang"]).collect()
    }
    assert agg.keys() == rolled.keys()
    for k in rolled:
        assert abs(agg[k][0] - rolled[k][0]) < 1e-9
        assert agg[k][1] == rolled[k][1]
    register_sql_functions(spark)
    fine.createOrReplaceTempView("__sk_agg_test")
    via_sql = {
        r["lang"]: r["ndv"]
        for r in spark.sql(
            "SELECT lang, hll_ndv_agg(sketch) AS ndv"
            " FROM __sk_agg_test GROUP BY lang"
        ).collect()
    }
    for k in rolled:
        assert abs(via_sql[k] - rolled[k][0]) < 1e-9
    fine.unpersist()


def test_hll_ndv_multi_one_scan_bit_identical(spark, documents, tmp_path):
    """hll_ndv_multi: estimates bit-identical to per-column hll_ndv, and
    the physical plan reads the table ONCE (the whole point at 100 TB)."""
    from js_hll_spark.spark.agg import hll_ndv_multi

    path = str(tmp_path / "docs")
    documents.write.parquet(path)
    df = spark.read.parquet(path)
    multi = {
        r["column"]: r["ndv"]
        for r in hll_ndv_multi(df, ["text", "lang", "source"], log2m=12).collect()
    }
    for c in ("text", "lang", "source"):
        single = hll_ndv(df, c, log2m=12).first()["ndv"]
        assert multi[c] == single, c
    plan = (
        hll_ndv_multi(df, ["text", "lang", "source"], log2m=12)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan") == 1
    # nulls in one column must not leak into its sketch
    with_nulls = df.withColumn(
        "maybe", F.when(F.col("doc_id") % 2 == 0, F.col("lang"))
    )
    m = {
        r["column"]: r["ndv"]
        for r in hll_ndv_multi(with_nulls, ["maybe", "lang"], log2m=12).collect()
    }
    only_even = with_nulls.filter("maybe IS NOT NULL")
    assert m["maybe"] == hll_ndv(only_even, "maybe", log2m=12).first()["ndv"]


def test_introspection_and_set_algebra_udfs(spark, events):
    """postgresql-hll introspection parity (hll_schema_version / hll_log2m
    / hll_regwidth / hll_type / hll_error_bound — header-only reads) and
    the pairwise set-algebra estimators (intersection via
    inclusion-exclusion, jaccard), SQL-registered."""
    import math

    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    a = hll_sketch(
        events.filter("event_id % 3 != 0"), "user_id", log2m=12
    ).select(F.col("sketch").alias("a"))
    b = hll_sketch(
        events.filter("event_id % 3 != 1"), "user_id", log2m=12
    ).select(F.col("sketch").alias("b"))
    a.crossJoin(b).createOrReplaceTempView("__pair")
    row = spark.sql(
        """SELECT hll_schema_version(a) AS v, hll_log2m(a) AS l,
                  hll_regwidth(a) AS w, hll_type(a) AS t,
                  hll_error_bound(a) AS e,
                  hll_intersection(a, b) AS inter,
                  hll_intersection_error(a, b) AS ierr,
                  hll_jaccard(a, b) AS jac,
                  hll_cardinality(a) AS na, hll_cardinality(b) AS nb,
                  hll_cardinality(hll_union_pair(a, b)) AS nu
           FROM __pair"""
    ).first()
    assert row["v"] == 1 and row["l"] == 12 and row["w"] == 5
    assert row["t"] in ("SPARSE", "FULL")
    assert abs(row["e"] - 1.04 / math.sqrt(2**12)) < 1e-12
    # inclusion-exclusion identity holds exactly on the estimates
    assert abs(row["inter"] - (row["na"] + row["nb"] - row["nu"])) < 1e-9
    assert abs(row["jac"] - max(0.0, row["inter"]) / row["nu"]) < 1e-9
    # both filtered halves overlap in users seen in both thirds: the
    # estimates must land near the exact overlap
    exact = (
        events.filter("event_id % 3 != 0")
        .select("user_id")
        .intersect(events.filter("event_id % 3 != 1").select("user_id"))
        .count()
    )
    assert abs(row["inter"] - exact) / max(exact, 1) < 0.15
    # the quadrature error bound covers the observed deviation and is
    # dominated by the union term (reference caveat, README.markdown:62-69)
    assert row["ierr"] >= row["e"] * row["nu"]
    assert abs(row["inter"] - exact) < 3 * row["ierr"]


def test_raw_hash_method_addraw_parity(spark, events):
    """hash_method='raw' is the reference addRaw contract at DataFrame
    level: a column of already-64-bit-hashed values sketches bit-identically
    to letting the library hash the originals, when the raw column was
    produced by the same hash, and to the core reference."""
    pre = events.select(
        "event_type", F.xxhash64("user_id").alias("h")
    )
    via_raw = _by_key(
        hll_sketch(pre, "h", by=["event_type"], log2m=12, hash_method="raw"),
        ["event_type"],
    )
    direct = _by_key(
        hll_sketch(events, "user_id", by=["event_type"], log2m=12),
        ["event_type"],
    )
    ref = _core_reference(pre, "h", ["event_type"], hash_method="raw", log2m=12)
    assert via_raw == direct == ref


def test_hll_hash_sql_functions_ecosystem_parity(spark, events):
    """postgresql-hll's hll_hash_bigint/hll_hash_text as SQL functions:
    hashing in SQL and sketching the result with hash_method='raw' must
    produce byte-identical sketches to the library's own murmur3 path —
    the hash -> raw -> hex interop triangle a postgresql-hll user needs."""
    from js_hll_spark.hashing import murmur3_64
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    events.select("user_id").createOrReplaceTempView("__ev")
    pre = spark.sql("SELECT hll_hash_bigint(user_id) AS h FROM __ev")
    via_sql = hll_sketch(pre, "h", hash_method="raw", log2m=11).first()
    direct = hll_sketch(events, "user_id", hash_method="murmur3", log2m=11).first()
    assert bytes(via_sql["sketch"]) == bytes(direct["sketch"])
    # text variant cross-checks the scalar reference implementation
    row = spark.sql("SELECT hll_hash_text('foobar') AS h").first()
    want = murmur3_64(b"foobar")
    assert row["h"] == (want if want < 2**63 else want - 2**64)


def test_explicit_engine_exact_and_promotes(spark, events):
    """engine='explicit' is the exactness tier: below the auto explicit
    threshold every estimate EQUALS countDistinct (exact hash-set union,
    not near-exact linear counting — a dense sketch at m >> n can land
    at n-1 after floor/cast, which is why exact-claiming queries must
    not ride on the dense engines), and the merged sketch decodes as
    EXPLICIT. Past the threshold it promotes and stays within bound."""
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = hll_sketch(
        events, "user_id", by=["event_type"], log2m=16, engine="explicit"
    ).collect()
    for r in rows:
        assert r["ndv"] == exact[r["event_type"]], r["event_type"]
        assert HLL.from_bytes(bytes(r["sketch"]))._explicit is not None
    total = sum(r["rows_seen"] for r in rows)
    assert total == events.count()
    # tiny log2m -> tiny auto threshold -> promotion: estimate, not exact
    promoted = hll_sketch(events, "user_id", log2m=10, engine="explicit").first()
    n = events.select(F.countDistinct("user_id")).first()[0]
    assert HLL.from_bytes(bytes(promoted["sketch"]))._explicit is None
    assert abs(promoted["ndv"] - n) / n < 3 * BOUND(10)


def test_explicit_engine_null_group_keys(spark):
    """A null in the by-column must form one group (not split across
    Arrow batches / partitions) and stay exact, matching countDistinct's
    null-group semantics."""
    df = spark.createDataFrame(
        [(None if i % 3 == 0 else f"g{i % 2}", i % 37) for i in range(600)],
        ["grp", "val"],
    ).repartition(7)
    got = {
        r["grp"]: r["ndv"]
        for r in hll_sketch(df, "val", by=["grp"], log2m=14, engine="explicit").collect()
    }
    want = {
        r["grp"]: r["n"]
        for r in df.groupBy("grp").agg(F.countDistinct("val").alias("n")).collect()
    }
    assert got == want


def test_hll_hash_text_null_maps_to_null(spark):
    """postgresql-hll semantics: hll_hash_text(NULL) and
    hll_hash_bigint(NULL) are NULL, and a bigint batch holding a NULL
    still hashes every value exactly (2^53 + 1 is not representable in
    the float64 a pandas batch would carry it as)."""
    from js_hll_spark.hashing import murmur3_64
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    rows = spark.sql(
        "SELECT hll_hash_text(x) AS h FROM VALUES ('a'), (NULL), ('b') t(x)"
    ).collect()
    assert rows[1]["h"] is None
    assert rows[0]["h"] is not None and rows[2]["h"] is not None
    rows = spark.sql(
        "SELECT hll_hash_bigint(x) AS h FROM VALUES "
        "(9007199254740993L), (CAST(NULL AS LONG)) t(x)"
    ).collect()
    assert rows[1]["h"] is None
    want = murmur3_64((2**53 + 1).to_bytes(8, "little"))
    assert rows[0]["h"] == want - 2**64 == -4213922593123932684


def test_scalar_udfs_null_blobs_return_null(spark):
    """Every scalar sketch UDF maps a NULL blob to NULL instead of
    crashing the pandas worker (SQL NULL-propagation convention; an
    all-null group's hll_union_agg legitimately returns NULL and is then
    fed to these)."""
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    row = spark.sql(
        """SELECT hll_cardinality(CAST(NULL AS BINARY)) a,
                  hll_to_hex(CAST(NULL AS BINARY)) b,
                  hll_from_hex(CAST(NULL AS STRING)) c,
                  hll_type(CAST(NULL AS BINARY)) d,
                  hll_log2m(CAST(NULL AS BINARY)) e,
                  hll_regwidth(CAST(NULL AS BINARY)) f,
                  hll_schema_version(CAST(NULL AS BINARY)) g,
                  hll_error_bound(CAST(NULL AS BINARY)) h,
                  hll_intersection(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) i,
                  hll_intersection_error(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) j,
                  hll_jaccard(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) k,
                  hll_fold(CAST(NULL AS BINARY), 10) l"""
    ).first()
    assert all(row[c] is None for c in "abcdefghijkl")


def test_global_ndv_empty_input_returns_zero_row(spark):
    """countDistinct semantics: an empty or all-NULL input yields ONE
    global row with ndv 0 for every hash method and engine (it used to
    return zero rows, silently vanishing from downstream crossJoins);
    the dense row's sketch is the core reference's empty sketch, and a
    keyed call returns no rows."""
    all_null = spark.range(10).select(
        F.lit(None).cast("long").alias("v"), F.lit("k").alias("k")
    )
    none_at_all = spark.range(0).select(F.col("id").alias("v"), F.lit("k").alias("k"))
    for df in (all_null, none_at_all):
        for method in HASH_METHODS:
            ref = _core_reference(df, "v", hash_method=method, log2m=10)
            got = _by_key(hll_sketch(df, "v", log2m=10, hash_method=method))
            assert got == ref, method
            assert got[()][1:] == (0.0, 0), method
            keyed = hll_sketch(df, "v", by=["k"], log2m=10, hash_method=method)
            assert keyed.collect() == [], method
            rows = hll_sketch(
                df, "v", log2m=10, hash_method=method, engine="explicit"
            ).collect()
            assert len(rows) == 1, method
            assert rows[0]["ndv"] == 0.0 and rows[0]["rows_seen"] == 0


def test_murmur3_rejects_float_columns(spark):
    """A double column would silently truncate through the int64 hash
    path; the API fails fast instead."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    df = spark.range(10).select((F.col("id") * 1.5).alias("v"))
    for engine in ("auto", "explicit"):
        for by in ([], ["v"]):
            with _pytest.raises(ValueError, match="integral/string/binary"):
                hll_sketch(df, "v", by, hash_method="murmur3", engine=engine)


def test_keyed_merge_carry_across_tiny_arrow_batches(spark, events):
    """The batched keyed kernels carry group state across Arrow batch
    boundaries: forcing 7-row batches must change nothing — for the HLL
    kernels of every hash method (byte-identical to the core reference)
    AND the companion keyed merge (identical quantiles/rows), including
    a null group key."""
    from js_hll_spark.spark.sketch_agg import approx_quantiles

    ev = events.withColumn(
        "g", F.when(F.col("user_id") % 7 == 0, None).otherwise(
            F.col("user_id") % 13
        )
    )
    inputs = [(m,) + _hash_input(ev, "event_id", m) for m in HASH_METHODS]
    ref = [
        _core_reference(df, col, ["g"], hash_method=m, log2m=10)
        for m, df, col in inputs
    ]

    def snapshot():
        hll = [
            _by_key(hll_sketch(df, col, by=["g"], log2m=10, hash_method=m), ["g"])
            for m, df, col in inputs
        ]
        q = {
            r["g"]: r["q50"]
            for r in approx_quantiles(
                ev, "value", by=["g"], qs=(0.5,), method="kll",
                params={"k": 4096},
            ).collect()
        }
        return hll, q

    normal = snapshot()
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        tiny = snapshot()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)
    assert tiny == normal
    assert normal[0] == ref
    assert (None,) in ref[0]  # the null group survived


def test_hll_fold_null_target_yields_null(spark):
    """A NULL fold target (which turns the int batch into float64 with
    NaN) must yield NULL for that row, not fail the task (review r5)."""
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    from js_hll_spark.spark.agg import hll_sketch

    df = spark.range(50).selectExpr("concat('u', id) AS u")
    hll_sketch(df, "u", log2m=11, regwidth=5).createOrReplaceTempView(
        "sk_foldnull"
    )
    row = spark.sql(
        """SELECT hll_fold(sketch, CASE WHEN false THEN 10 END) AS n,
                  hll_fold(sketch, 10) AS f
           FROM sk_foldnull"""
    ).first()
    assert row["n"] is None and row["f"] is not None


def test_hll_hash_text_bytes_and_nontext(spark):
    """hll_hash_text over a BINARY column hashes the raw bytes (same
    value as the utf-8 string path — NOT the Python repr, which the old
    str() coercion silently hashed); non-text columns raise."""
    from js_hll_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    import pytest

    hs = spark.sql("SELECT hll_hash_text('ab') AS h").first()["h"]
    hb = (
        spark.createDataFrame([(bytearray(b"ab"),)], ["t"])
        .selectExpr("hll_hash_text(t) AS h")
        .first()["h"]
    )
    assert hb == hs
    with pytest.raises(Exception, match="hll_hash_text"):
        spark.createDataFrame([(7,)], ["t"]).selectExpr(
            "hll_hash_text(t) AS h"
        ).collect()


def test_default_cutoff_byte_threshold_alone_is_encoded():
    """default_cutoff_byte(explicit_threshold=t) must encode t — the old
    explicit_auto=True default silently discarded it (review r5)."""
    from js_hll_spark.config import default_cutoff_byte

    code = default_cutoff_byte(explicit_threshold=128) & 63
    assert code not in (0, 63) and 2 ** (code - 1) == 128
    # explicit call sites keep their behavior
    assert default_cutoff_byte(explicit_auto=True) & 63 == 63
    assert default_cutoff_byte(explicit_auto=False) & 63 == 0
    assert default_cutoff_byte() & 63 == 63


def test_sql_engine_groups_match_catalyst(spark):
    """Every HLL engine, hll_rollup and the companion merge return
    exactly Catalyst's groups. Keys that cross into pandas used to merge
    or split groups silently: a nullable bigint key became float64, so
    2**53 and 2**53 + 1 formed one group of 120 instead of two of 50 and
    70, and a NaN double key merged into the NULL group or came back as
    a second NULL-keyed row. The sql engine's group set and NDVs must
    match groupBy(k).agg(countDistinct); the explicit tier's and a
    rollup's (key, rows_seen) must equal groupBy(k).count(); and
    approx_quantiles must return one row per group with the group's
    exact q50 (KLL holds these few items uncompacted)."""
    from js_hll_spark.spark.sketch_agg import approx_quantiles

    big = 2**53
    longs = (
        [(big, f"a{i}", float(i)) for i in range(50)]
        + [(big + 1, f"b{i}", 100.0 + i) for i in range(70)]
        + [(None, f"c{i}", 1000.0 + i) for i in range(30)]
    )
    doubles = (
        [(float("nan"), f"a{i}", float(i)) for i in range(40)]
        + [(None, f"b{i}", 100.0 + i) for i in range(25)]
        + [(1.5, f"c{i}", 1000.0 + i) for i in range(60)]
    )

    def norm(k):
        return "NaN" if isinstance(k, float) and math.isnan(k) else k

    for rows, ddl in (
        (longs, "k bigint, v string, x double"),
        (doubles, "k double, v string, x double"),
    ):
        df = spark.createDataFrame(rows, ddl)
        got = hll_sketch(df, "v", by=["k"], log2m=14, engine="sql").collect()
        exact = {
            norm(r["k"]): r["n"]
            for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
        }
        assert sorted(map(repr, (norm(r["k"]) for r in got))) == sorted(
            map(repr, exact)
        ), ddl
        for r in got:
            n = exact[norm(r["k"])]
            assert abs(r["ndv"] - n) <= max(1.0, 0.02 * n), (ddl, r["k"])

        counts = sorted(
            repr((norm(r["k"]), r["count"])) for r in df.groupBy("k").count().collect()
        )
        dense = hll_sketch(df, "v", by=["k"], log2m=14, engine="sql")
        for name, out in (
            ("explicit", hll_sketch(df, "v", by=["k"], log2m=14, engine="explicit")),
            ("rollup", hll_rollup(dense, ["k"], rows_col="rows_seen")),
        ):
            assert sorted(
                repr((norm(r["k"]), r["rows_seen"])) for r in out.collect()
            ) == counts, (ddl, name)

        medians = sorted(
            (repr(norm(r["k"])), sorted(r["xs"])[math.ceil(len(r["xs"]) / 2) - 1])
            for r in df.groupBy("k").agg(F.collect_list("x").alias("xs")).collect()
        )
        quantiles = approx_quantiles(df, "x", by=["k"], qs=(0.5,)).collect()
        assert sorted((repr(norm(r["k"])), r["q50"]) for r in quantiles) == medians, ddl


def test_assemble_kernel_memory_is_bounded_per_group():
    """The sql engine's assembly kernel holds O(m) memory per group:
    4,096 groups at log2m=16 as one (groups x m) register matrix would
    take 256 MB. The tracemalloc peak must stay under 32 MB, and every
    output sketch must equal HLL.to_bytes of its group's registers."""
    import tracemalloc

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from js_hll_spark.config import HLLConfig
    from js_hll_spark.core.hll import estimate_from_registers
    from js_hll_spark.spark.agg import _assemble_kernel

    config = HLLConfig(16, 5)
    n_groups, per_group = 4096, 32
    rng = np.random.default_rng(7)
    idx = np.stack(
        [rng.choice(config.m, per_group, replace=False) for _ in range(n_groups)]
    ).astype(np.int64)
    val = rng.integers(1, config.max_register_value + 1, idx.shape, dtype=np.int64)
    offsets = pa.array(np.arange(n_groups + 1, dtype=np.int32) * per_group)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(np.arange(n_groups, dtype=np.int64)),
            pa.ListArray.from_arrays(offsets, pa.array(((idx << 8) | val).ravel())),
            pa.array(np.full(n_groups, 3, dtype=np.int64)),
        ],
        names=["k", "__regs", "rows_seen"],
    )

    schema = StructType(
        [
            StructField("k", LongType(), True),
            StructField("sketch", BinaryType(), False),
            StructField("ndv", DoubleType(), False),
            StructField("rows_seen", LongType(), False),
        ]
    )
    kernel = _assemble_kernel(["k"], config, schema, estimate=True, keep_sketch=True)

    seen = 0
    tracemalloc.start()
    try:
        for out in kernel(iter([batch])):
            keys = out.column("k").to_numpy()
            sketches = out.column("sketch").to_pylist()
            ndvs = out.column("ndv").to_numpy()
            assert out.column("rows_seen").to_pylist() == [3] * out.num_rows
            for k, blob, ndv in zip(keys, sketches, ndvs):
                ref = HLL(config, explicit_threshold=0, sparse_on=False)
                ref._regs[idx[k]] = val[k]
                assert blob == ref.to_bytes(), k
                assert ndv == estimate_from_registers(ref._regs, config), k
            seen += out.num_rows
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert seen == n_groups
    assert peak < 32 << 20, f"assembly peak {peak / 2**20:.1f} MB"


def test_murmur3_groups_match_catalyst(spark):
    """murmur3 keeps group keys as Arrow columns: a nullable bigint key
    holding 2**53 (50 rows), 2**53 + 1 (30 rows) and NULL is three
    groups, not one 80-row group, and a NaN double key is its own group,
    not part of the NULL group. The (key, rows_seen) set must equal
    groupBy(k).count(), also with Arrow batches that split the runs."""
    big = 2**53
    longs = (
        [(big, f"a{i}") for i in range(50)]
        + [(big + 1, f"b{i}") for i in range(30)]
        + [(None, f"c{i}") for i in range(20)]
    )
    doubles = (
        [(float("nan"), f"a{i}") for i in range(40)]
        + [(None, f"b{i}") for i in range(25)]
        + [(1.5, f"c{i}") for i in range(60)]
    )

    def norm(k):
        return "NaN" if isinstance(k, float) and math.isnan(k) else k

    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        for batch in (small, "7"):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch)
            for rows, ddl in ((longs, "k bigint, v string"), (doubles, "k double, v string")):
                df = spark.createDataFrame(rows, ddl).repartition(3)
                got = hll_sketch(df, "v", by=["k"], log2m=12, hash_method="murmur3")
                want = df.groupBy("k").count().collect()
                assert sorted(repr((norm(r["k"]), r["rows_seen"])) for r in got.collect()) == sorted(
                    repr((norm(r["k"]), r["count"])) for r in want
                ), (ddl, batch)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)


def test_murmur3_keyed_build_runs_no_job(spark, events):
    """Library calls only build plans: a keyed murmur3 hll_ndv over a
    shuffled input runs no Spark job until the caller's action."""
    shuffled = events.groupBy("event_type", "user_id").count()
    sc = spark.sparkContext
    sc.setJobGroup("murmur3-build", "plan construction")
    try:
        out = hll_ndv(shuffled, "user_id", by=["event_type"], hash_method="murmur3")
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("murmur3-build") == []
    assert out.count() == events.select("event_type").distinct().count()


def test_hll_build_runs_no_job_and_drops_callers_aggregate(spark, monkeypatch):
    """Building an HLL plan over an aggregated input runs no Spark job
    (no partition probe: DataFrame.rdd raises here), and Catalyst drops
    the caller's groupBy(v, k) under the duplicate-insensitive register
    max, so the estimate equals the one over the raw rows bit for bit."""
    base = spark.range(0, 20_000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 3_000).alias("v")
    )
    df = base.repartition(16)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    def no_rdd(self):
        raise AssertionError("an HLL build must not touch DataFrame.rdd")

    sc = spark.sparkContext
    try:
        agg = df.groupBy("v", "k").count()
        with monkeypatch.context() as mp:
            # the session's concrete class (classic or Connect) defines rdd
            mp.setattr(type(df), "rdd", property(no_rdd))
            builds = {}
            for name, build in (
                ("ndv", lambda: hll_ndv(agg, "v")),
                ("sketch", lambda: hll_sketch(agg, "v")),
                ("raw", lambda: hll_ndv(df, "v", hash_method="raw")),
                ("xxhash64", lambda: hll_ndv(df, "v")),
                ("murmur3", lambda: hll_ndv(df, "v", hash_method="murmur3")),
            ):
                sc.setJobGroup(f"hll-build-{name}", "plan construction")
                try:
                    builds[name] = build()
                finally:
                    sc.setJobGroup(None, None)
                assert sc.statusTracker().getJobIdsForGroup(f"hll-build-{name}") == [], name

        def grouped_by_k(plan):
            def items(seq):
                return [seq.apply(i) for i in range(seq.size())]

            here = plan.nodeName() == "Aggregate" and any(
                e.toString().startswith("k#") for e in items(plan.groupingExpressions())
            )
            return here or any(grouped_by_k(c) for c in items(plan.children()))

        optimized = builds["ndv"]._jdf.queryExecution().optimizedPlan()
        assert not grouped_by_k(optimized), optimized.toString()
        assert grouped_by_k(agg._jdf.queryExecution().optimizedPlan())
        assert builds["ndv"].collect() == hll_ndv(df, "v").collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_murmur3_partial_kernel_flushes_within_bound():
    """The murmur3 partial kernel's register-file cache is bounded: 1,500
    keys at log2m=16 would hold 98 MB of register files, past the 32 MB
    cache bound, so the kernel must emit partials early and keep the
    tracemalloc peak under 48 MB. Its partials, max-merged per key as
    hll_assemble does, must equal a per-key core HLL build, and
    rows_seen must sum to each key's row count."""
    import tracemalloc

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from js_hll_spark.config import HLLConfig
    from js_hll_spark.hashing import murmur3_64_bytes
    from js_hll_spark.spark.agg import _PARTIAL_CACHE_BYTES, _murmur3_partial_kernel

    config = HLLConfig(16, 5)
    n_keys, per_key = 1500, 20
    assert n_keys * config.m > 2 * _PARTIAL_CACHE_BYTES
    rng = np.random.default_rng(5)
    keys = np.repeat(np.arange(n_keys), per_key)
    vals = np.array([f"v{i}" for i in range(keys.size)], dtype=object)
    order = rng.permutation(keys.size)  # every key recurs across batches
    key_col = [None if k == 0 else int(k) for k in keys[order]]
    table = pa.table({"k": pa.array(key_col, pa.int64()), "__h64": vals[order]})
    schema = StructType(
        [
            StructField("k", LongType(), True),
            StructField("__regs", ArrayType(LongType(), False), False),
            StructField("rows_seen", LongType(), False),
        ]
    )
    kernel = _murmur3_partial_kernel(["k"], config, schema)

    partials: dict = {}  # key -> [(packed registers, rows_seen), ...]
    tracemalloc.start()
    try:
        for out in kernel(iter(table.to_batches(max_chunksize=3000))):
            lists = out.column("__regs")
            offs, packed = lists.offsets.to_numpy(), lists.values.to_numpy()
            rows = out.column("rows_seen").to_pylist()
            for i, k in enumerate(out.column("k").to_pylist()):
                partials.setdefault(k, []).append((packed[offs[i] : offs[i + 1]], rows[i]))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 48 << 20, f"partial peak {peak / 2**20:.1f} MB"
    assert len(partials) == n_keys
    # the cache was flushed before the end: keys arrive in several partials
    assert sum(map(len, partials.values())) > n_keys
    for k in range(n_keys):
        ref = HLL(config, explicit_threshold=0, sparse_on=False)
        ref.add_raw64(murmur3_64_bytes(list(vals[keys == k])))
        regs = np.zeros(config.m, np.uint8)
        for p, _ in partials[None if k == 0 else k]:
            np.maximum.at(regs, p >> 8, p & 0xFF)
        assert sum(n for _, n in partials[None if k == 0 else k]) == per_key, k
        assert np.array_equal(regs, ref._regs), k
