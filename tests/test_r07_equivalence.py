"""Focused equivalence guards for the r7 optimization rewrites: every
optimized operator must produce byte-identical results to the formulation
it replaced — on adversarial inputs, not just the fixture corpus.

Covers:
- the Arrow shingle kernel vs the Catalyst shingles twin, its parity
  oracle (whitespace classes, control chars, non-ASCII spaces and case,
  empties, NULLs, short docs), and the SimHash kernel vs a numpy
  reference over the same ``tokens()`` arrays;
- groupBy-collect + codegen pair combinations vs the old self-equi-join
  pair multiset (LSH band join and exact-Jaccard all-pairs tier);
- the packed-long pair aggregation vs the struct-keyed fallback;
- the vectorized order-preserving cosine kernel and the numpy LSH
  signatures vs the higher-order aggregate chain, in both float32 and
  double forms;
- edge-restricted connected components vs an all-nodes reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from js_hll_spark.operators.text import tokens


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _dot(a, b):
    """Dot product of two array columns as the Catalyst higher-order
    chain, accumulated left to right from 0.0: the parity oracle of the
    cosine kernel and of the LSH signatures."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def shingles(col, n: int = 3):
    """Word n-gram shingles of the normalized token stream, as a
    Catalyst higher-order expression: the parity oracle of the Arrow
    shingle kernel."""
    toks = tokens(col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


# texts chosen to stress the normalization contract of text.tokens:
# Java-\s-only whitespace collapse (vertical tab \x0b IS Java \s;
# \x1c-\x1f, NBSP and U+2003 are NOT), Spark's trim of spaces only (not
# of every char <= U+0020), split-of-empty keeping [''], sub-n-token docs,
# and Java's lowercasing of non-ASCII letters
_TRICKY = [
    (0, "plain three word shingles here"),
    (1, "  leading   and\t\ttrailing  \n"),
    (2, ""),
    (3, " "),
    (4, "one"),
    (5, "two words"),
    (6, "a\x0bb\fc\rd"),          # all Java \s separators
    (7, "ctrl\x1cchars\x1fstay"),  # \x1c/\x1f are NOT Java \s
    (8, None),
    (9, "dup dup dup dup dup"),
    (10, "Mixed CASE Tokens mixed case tokens"),
    (11, "\x01lead ctrl x y\x1f"),  # trim keeps \x01 and \x1f
    (12, "a\u00a0b c d"),            # NBSP
    (13, "a\x1cb c d"),
    (14, "\u2003em space x y"),      # em space
    (15, "ΟΔΟΣ ΑΒ ΓΔ"),
    (16, "İstanbul x y"),
]


def _catalyst_postings(spark, df, n=3):
    return df.select(
        F.col("doc_id").alias("__id"),
        F.explode(F.array_distinct(shingles(F.col("text"), n))).alias("sh"),
    )


def test_posting_kernel_matches_catalyst_twin_on_tricky_text(spark):
    from js_hll_spark.operators.dedup import shingle_postings

    df = spark.createDataFrame(_TRICKY, "doc_id long, text string")
    for n in (1, 2, 3):
        fast = _rows(shingle_postings(df, "text", "doc_id", shingle_n=n))
        ref = _rows(_catalyst_postings(spark, df, n))
        # deliberate divergence (latent-bug fix): the Catalyst chain
        # emits one (id, NULL) posting row for NULL text — a phantom
        # shingle that hashed to the xxhash64 seed, contradicting both the
        # documented contract and the DuckDB oracles (unnest of NULL = no
        # rows). The kernel emits nothing for NULL text; everything else
        # is byte-equal.
        ref = [r for r in ref if r[1] is not None]
        assert (8, None) not in fast
        assert fast == ref, f"shingle_n={n}"


def test_simhash_kernel_matches_numpy_reference_on_tricky_text(spark):
    """Both SimHash tiers vote over exactly Catalyst's tokens(): bit i is
    set iff more of the doc's token hashes (murmur3 for
    simhash_signatures_fast, Catalyst's xxhash64 for simhash_signatures)
    have bit i set than clear; NULL text gives a NULL signature."""
    from js_hll_spark.hashing import murmur3_64_bytes, to_uint64
    from js_hll_spark.operators.dedup import simhash_signatures, simhash_signatures_fast

    df = spark.createDataFrame(_TRICKY, "doc_id long, text string")
    toks = tokens("text")
    xx = F.transform(toks, lambda t: F.xxhash64(t))
    tiers = [
        (simhash_signatures_fast, toks, murmur3_64_bytes),
        (simhash_signatures, xx, lambda hs: to_uint64(np.array(hs, dtype=np.int64))),
    ]
    for tier, col, hash_tokens in tiers:
        want = {}
        for doc_id, vals in df.select("doc_id", col).collect():
            if vals is None:
                want[doc_id] = None
                continue
            h = hash_tokens(vals)
            ones = [int(((h >> np.uint64(i)) & np.uint64(1)).sum()) for i in range(64)]
            sig = sum(1 << i for i in range(64) if 2 * ones[i] > len(vals))
            want[doc_id] = sig - (1 << 64) if sig >> 63 else sig  # as a signed long
        got = dict(map(tuple, tier(df).collect()))
        assert got == want, tier.__name__


def test_shingle_kernels_slice_batches_without_changing_rows(monkeypatch):
    """Both token kernels window a batch in row slices of about
    ``_SLICE_BYTES`` of text, which bounds their memory whatever the
    batch size; a slice budget smaller than any doc gives the same rows
    as one slice per batch."""
    import pyarrow as pa

    from js_hll_spark.hashing import murmur3_64_bytes
    from js_hll_spark.operators import dedup

    toks = [["a", "b", "c", "d"], None, ["x"], ["a", "b", "a", "b", "a"], [""], ["q", "r"]]
    ids = pa.array(range(len(toks)), pa.int64())
    batch = pa.RecordBatch.from_arrays(
        [ids, pa.array(toks, pa.list_(pa.string()))], names=["__id", "__toks"]
    )
    # the xxhash64 tier's input: each token's 64-bit hash as a long
    # (murmur3 here, so both tiers must vote to the same signatures)
    hashes = [None if t is None else murmur3_64_bytes(t).view(np.int64).tolist() for t in toks]
    hashed = pa.RecordBatch.from_arrays(
        [ids, pa.array(hashes, pa.list_(pa.int64()))], names=["__id", "__toks"]
    )
    # a slice hashes its own bytes, not its parent buffer's
    flat = batch.column("__toks").flatten()
    assert (murmur3_64_bytes(flat.slice(2, 5)) == murmur3_64_bytes(flat.to_pylist()[2:7])).all()

    def run(kernel, b):
        return sorted(r for out in kernel(iter([b])) for r in zip(*out.to_pydict().values()))

    def runs():
        return [
            run(dedup._shingle_kernel(3, True), batch),
            run(dedup._simhash_kernel(murmur3_64_bytes), batch),
            run(dedup._simhash_kernel(dedup._long_values), hashed),
        ]

    whole = runs()
    monkeypatch.setattr(dedup, "_SLICE_BYTES", 3)
    # every doc outweighs the budget; the NULL row weighs nothing and
    # shares the next row's slice
    assert len(list(dedup._token_slices(batch))) == 5
    assert len(list(dedup._token_slices(hashed))) == 5
    assert runs() == whole
    assert whole[0] == [
        (0, "a b c"), (0, "b c d"), (2, "x"), (3, "a b a"), (3, "b a b"), (4, ""), (5, "q r")
    ]
    assert whole[2] == whole[1]


def test_pair_structs_equal_selfjoin_multiset(spark):
    """The codegen i<j combination explode must reproduce exactly the
    pair multiset of the old a.key==b.key AND a.id<b.id self-join."""
    from js_hll_spark.operators.dedup import _pair_structs

    rows = [(k, i) for k in range(5) for i in range(k + 1)] + [(9, 42)]
    post = spark.createDataFrame(rows, "sh long, __id long")
    grouped = post.groupBy("sh").agg(
        F.sort_array(F.collect_list("__id")).alias("ids")
    )
    new = (
        grouped.filter(F.size("ids") >= 2)
        .select(F.explode(_pair_structs("ids")).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    a, b = post.alias("a"), post.alias("b")
    old = a.join(
        b,
        (F.col("a.sh") == F.col("b.sh")) & (F.col("a.__id") < F.col("b.__id")),
    ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    assert _rows(new) == _rows(old)


def test_ngram_packed_and_struct_paths_agree(spark, documents):
    """ngram_jaccard's packed-long pair aggregation (ids < 2^31) and the
    struct-keyed fallback must return identical rows. Shifting doc ids
    past 2^31 forces the fallback on otherwise identical text."""
    from js_hll_spark.operators import dedup

    docs = documents.limit(300)
    packed = _rows(
        dedup.ngram_jaccard(docs, shingle_n=3, threshold=0.2, max_shingle_df=50)
    )
    big = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1 << 32))
    fallback = _rows(
        dedup.ngram_jaccard(big, shingle_n=3, threshold=0.2, max_shingle_df=50)
    )
    shifted = sorted(
        (a - (1 << 32), b - (1 << 32), j) for a, b, j in fallback
    )
    assert packed == shifted
    assert len(packed) > 0  # the corpus must actually exercise the path


def test_cosine_kernel_bit_identical_to_hof(spark):
    from js_hll_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    for cast in (False, True):
        e = emb
        if cast:
            e = e.withColumn(
                "embedding", F.transform("embedding", lambda x: x.cast("double"))
            )
        q = e.limit(3).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        pairs = e.crossJoin(F.broadcast(q))
        hof = _dot(F.col("qv"), F.col("embedding")) / (
            F.sqrt(_dot(F.col("qv"), F.col("qv")))
            * F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        )
        mism = (
            pairs.select(
                hof.alias("old"),
                ann.cosine(F.col("qv"), F.col("embedding")).alias("new"),
            )
            .filter(~F.col("old").eqNullSafe(F.col("new")))
            .count()
        )
        assert mism == 0, f"cast={cast}"


def test_lsh_signatures_bit_identical_to_hyperplane_expression(spark):
    """The numpy LSH signatures equal the Catalyst hyperplane expression
    they replaced (bit i = sign of the ``_dot`` with plane i, OR-ed
    into a long), on float and double embeddings."""
    from js_hll_spark.operators import ann

    bits = 16
    planes = ann.hyperplanes(64, bits, seed=42)
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    for cast in (False, True):
        e = emb
        if cast:
            e = e.withColumn(
                "embedding", F.transform("embedding", lambda x: x.cast("double"))
            )
        sig = F.lit(0).cast("long")
        for i, row in enumerate(planes):
            plane = F.array(*[F.lit(float(x)) for x in row])
            bit = F.when(_dot(F.col("embedding"), plane) > 0, 1).otherwise(0)
            sig = sig.bitwiseOR(F.shiftleft(bit.cast("long"), i))
        rows = e.select("embedding", sig.alias("sig")).orderBy("vec_id").collect()
        x = np.array([r["embedding"] for r in rows], dtype=np.float64)
        want = np.array([r["sig"] for r in rows], dtype=np.int64)
        got = ann._signatures(x, planes)
        assert len(set(want.tolist())) > 100, f"cast={cast}"
        assert np.array_equal(got, want), f"cast={cast}"


def test_cosine_kernel_null_and_mismatch_semantics(spark):
    """NULL array or length mismatch -> NULL (the zip_with null-padding
    behavior); empty arrays -> NaN (0/0)."""
    import math

    from js_hll_spark.operators import ann

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [3.0, 4.0]),
            (2, None, [1.0]),
            (3, [1.0, 2.0], [1.0]),
            (4, [], []),
        ],
        "id long, a array<double>, b array<double>",
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", ann.cosine(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert got[1] is not None and abs(got[1] - (11.0 / (5.0**0.5 * 25.0**0.5))) < 1e-12
    assert got[2] is None
    assert got[3] is None
    assert got[4] is not None and math.isnan(got[4])


def test_connected_components_edge_restricted_loop_matches_semantics(spark):
    """Edge-restricted iteration + singleton emission must label exactly
    like the definitional closure: components over edges, singletons for
    isolated nodes, ids outside the node universe excluded."""
    from js_hll_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (50, 99)], "id_a long, id_b long"
    )
    # node universe: chain 1-2-3, pair 10-11, isolated 4 and 5; id 99 of
    # the (50, 99) edge is OUTSIDE the universe so 50 must stay singleton
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11, 50)], "doc_id long"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes=nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 10: 10, 11: 10, 50: 50}


def test_sql_engine_coalesces_wide_unkeyed_inputs_bit_identically(spark):
    """Unkeyed builds coalesce their input to defaultParallelism before
    the producer, with no partition probe: per-task state is m
    registers, and a murmur3 Python task costs ~50 ms. Two exceptions
    keep the input partitioning: keyed builds (per-task state is
    keys-in-task x m), and an xxhash64/raw hll_ndv over a caller's
    groupBy(value), which Catalyst drops under the register max only
    with no Coalesce between. Results stay bit-identical across partition counts for
    every hash method (merge-order independence)."""
    from js_hll_spark.spark.agg import hll_ndv, hll_sketch

    cores = spark.sparkContext.defaultParallelism
    base = spark.range(0, 20_000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 3_000).alias("v")
    )
    wide = base.repartition(cores * 4)
    narrow = base.repartition(max(1, cores // 2))
    grouped = wide.groupBy("v", "k").count()

    def physical(df, by, method, build=hll_sketch):
        q = build(df, "v", by=by, log2m=11, hash_method=method)
        return q._jdf.queryExecution().executedPlan().toString()

    partial = {"xxhash64": "partial_max", "raw": "partial_max", "murmur3": "murmur3_partial"}
    for method, producer in partial.items():
        # unkeyed and wide: a Coalesce to the core count below the producer
        plan = physical(wide, [], method)
        assert f"Coalesce {cores}" in plan, method
        assert plan.index(producer) < plan.index("Coalesce"), method
        # narrow: Catalyst drops the no-op Coalesce; keyed: none at all
        assert "Coalesce" not in physical(narrow, [], method), method
        for df in (wide, narrow):
            assert "Coalesce" not in physical(df, ["k"], method), method
        # over a groupBy(v), hll_ndv coalesces only the murmur3 map (no
        # Catalyst max); hll_sketch's rows_seen count keeps the caller's
        # aggregate, so it coalesces on every path
        ndv_plan = physical(grouped, [], method, build=hll_ndv)
        assert ("Coalesce" in ndv_plan) == (method == "murmur3"), method
        assert "Coalesce" in physical(grouped, [], method), method

    def rows(df, by, method):
        return sorted(
            (tuple(r[k] for k in by), bytes(r["sketch"]), r["ndv"], r["rows_seen"])
            for r in hll_sketch(df, "v", by=by, log2m=11, hash_method=method).collect()
        )

    for method in ("xxhash64", "raw", "murmur3"):
        for by in ([], ["k"]):
            assert rows(wide, by, method) == rows(narrow, by, method), (method, by)
