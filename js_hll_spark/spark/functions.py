"""Scalar (Arrow-batched) sketch column functions.

These run once per *sketch row* (post-aggregation), never per data row,
so the pandas-UDF boundary cost is negligible; the per-row hot path stays
JVM-side (see agg.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)

from .. import codec
from ..config import ALG_EMPTY, ALG_EXPLICIT, ALG_FULL, ALG_SPARSE, HLLConfig
from ..core.hll import HLL


@pandas_udf(DoubleType())
def hll_cardinality_udf(sketches: pd.Series) -> pd.Series:
    """Estimate cardinality of each spec-encoded sketch blob
    (reference: algorithmCardinality, src/hll.js:276-299)."""
    return sketches.map(
        lambda b: None if b is None else HLL.from_bytes(bytes(b)).algorithm_cardinality()
    )


@pandas_udf(StringType())
def hll_to_hex_udf(sketches: pd.Series) -> pd.Series:
    """Spec bytes -> '/x…' hex string (postgresql-hll interop,
    src/util.js:167-174)."""
    return sketches.map(lambda b: None if b is None else codec.to_hex(bytes(b)))


@pandas_udf(BinaryType())
def hll_from_hex_udf(hexes: pd.Series) -> pd.Series:
    """'/x…' (any 2-char prefix) hex string -> spec bytes
    (src/util.js:145-147)."""
    return hexes.map(lambda s: None if s is None else codec.from_hex(s))


@pandas_udf(BinaryType())
def hll_union_pair_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Pairwise union of two sketch columns (src/hll.js:328-349)."""

    def u(x, y):
        if x is None:
            return bytes(y) if y is not None else None
        if y is None:
            return bytes(x)
        return HLL.from_bytes(bytes(x)).union(HLL.from_bytes(bytes(y))).to_bytes()

    return pd.Series([u(x, y) for x, y in zip(a, b)])


@pandas_udf(BinaryType())
def hll_fold_udf(sketches: pd.Series, log2m: pd.Series) -> pd.Series:
    """Fold each sketch to a smaller log2m (src/hll.js:363-398). NULL in
    either argument yields NULL (a null target arrives as NaN in a
    float64 batch — int(NaN) would fail the whole task)."""
    return pd.Series(
        [
            None
            if b is None or pd.isna(k)
            else HLL.from_bytes(bytes(b)).fold(int(k)).to_bytes()
            for b, k in zip(sketches, log2m)
        ]
    )


_ALG_NAMES = {
    ALG_EMPTY: "EMPTY", ALG_EXPLICIT: "EXPLICIT", ALG_SPARSE: "SPARSE", ALG_FULL: "FULL"
}


@pandas_udf(IntegerType())
def hll_schema_version_udf(sketches: pd.Series) -> pd.Series:
    """postgresql-hll's hll_schema_version: upper nibble of byte 0."""
    return sketches.map(
        lambda b: None if b is None else bytes(b)[0] >> 4
    ).astype("Int32")


@pandas_udf(IntegerType())
def hll_log2m_udf(sketches: pd.Series) -> pd.Series:
    """postgresql-hll's hll_log2m: lower 5 bits of byte 1 — header-only
    introspection, no body decode."""
    return sketches.map(
        lambda b: None if b is None else bytes(b)[1] & 0x1F
    ).astype("Int32")


@pandas_udf(IntegerType())
def hll_regwidth_udf(sketches: pd.Series) -> pd.Series:
    """postgresql-hll's hll_regwidth: top 3 bits of byte 1, plus 1."""
    return sketches.map(
        lambda b: None if b is None else (bytes(b)[1] >> 5) + 1
    ).astype("Int32")


@pandas_udf(StringType())
def hll_type_udf(sketches: pd.Series) -> pd.Series:
    """Storage format of each blob: EMPTY | EXPLICIT | SPARSE | FULL
    (the spec's algorithm nibble)."""
    return sketches.map(
        lambda b: None
        if b is None
        else _ALG_NAMES.get(bytes(b)[0] & 0x0F, "UNDEFINED")
    )


@pandas_udf(DoubleType())
def hll_error_bound_udf(sketches: pd.Series) -> pd.Series:
    """Relative error bound 1.04/sqrt(2^log2m) of each sketch
    (src/hll.js cardinality_error; header-only)."""
    return sketches.map(
        lambda b: None
        if b is None
        else HLLConfig(
            bytes(b)[1] & 0x1F, (bytes(b)[1] >> 5) + 1
        ).relative_error
    )


@pandas_udf(DoubleType())
def hll_intersection_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """|A ∩ B| estimate by inclusion-exclusion (README.markdown:62-69 —
    error proportional to the UNION's cardinality)."""
    from ..core.hll import intersection_cardinality

    return pd.Series(
        [
            None
            if x is None or y is None
            else intersection_cardinality(
                HLL.from_bytes(bytes(x)), HLL.from_bytes(bytes(y))
            )
            for x, y in zip(a, b)
        ],
        dtype="float64",
    )


@pandas_udf(DoubleType())
def hll_intersection_error_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Absolute 1-sigma error of the inclusion-exclusion intersection —
    the reference's 'error proportional to the union' caveat
    (README.markdown:62-69) as a queryable column, so an operator can
    gate on est/err instead of trusting a tiny intersection of two huge
    sets."""
    from ..core.hll import intersection_error

    return pd.Series(
        [
            None
            if x is None or y is None
            else intersection_error(HLL.from_bytes(bytes(x)), HLL.from_bytes(bytes(y)))
            for x, y in zip(a, b)
        ],
        dtype="float64",
    )


@pandas_udf(DoubleType())
def hll_jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaccard similarity estimate |A∩B|/|A∪B| from two sketches —
    the sketch-level mirror of the document-level dedup scorers."""

    def jac(x, y):
        if x is None or y is None:
            return None
        sa, sb = HLL.from_bytes(bytes(x)), HLL.from_bytes(bytes(y))
        nu = sa.clone().union(sb).algorithm_cardinality()
        if nu <= 0:
            return 0.0
        ni = (
            sa.algorithm_cardinality() + sb.algorithm_cardinality() - nu
        )
        return max(0.0, ni) / nu

    return pd.Series([jac(x, y) for x, y in zip(a, b)])


@pandas_udf(BinaryType())
def hll_union_agg_udf(sketches: pd.Series) -> bytes:
    """TRUE AGGREGATE union of a sketch column (pandas GROUPED_AGG):

        df.groupBy("lang").agg(hll_union_agg_udf("sketch"))
        spark.sql("SELECT lang, hll_cardinality(hll_union_agg(sketch))
                   FROM sketches GROUP BY lang")

    This is postgresql-hll's hll_union_agg — the reference ecosystem's
    table-scale union (README.markdown's postgres examples) — as a
    first-class Spark aggregate expression, composable with any other
    aggregate in the same .agg()/GROUP BY. For large rollups prefer
    hll_rollup (streamed whole-batch assembly); this surface exists for
    SQL ergonomics and mixed-aggregate queries. Null blobs are skipped;
    an all-null group returns NULL (SQL aggregate convention)."""
    acc = _union_series(sketches)
    return acc.to_bytes() if acc is not None else None


def _union_series(sketches: pd.Series) -> "HLL | None":
    """Decode-and-union fold shared by the GROUPED_AGG surfaces: null
    blobs are skipped, an all-null series returns None."""
    acc: HLL | None = None
    for b in sketches:
        if b is None:
            continue
        s = HLL.from_bytes(bytes(b))
        acc = s if acc is None else acc.union(s)
    return acc


@pandas_udf(DoubleType())
def hll_ndv_agg_udf(sketches: pd.Series) -> float:
    """GROUPED_AGG companion of hll_union_agg_udf that returns the
    estimate directly: SELECT lang, hll_ndv_agg(sketch) ... GROUP BY."""
    acc = _union_series(sketches)
    return acc.algorithm_cardinality() if acc is not None else None


def _hash_non_null(v: pa.Array, fill, hash_fn) -> pa.Array:
    """``hash_fn`` (Arrow array -> uint64 ndarray) over the non-null
    values of ``v``, NULL for NULL (postgresql-hll semantics). NULLs are
    filled before hashing and masked after, so no value leaves Arrow's
    exact integer or byte layout."""
    if v.null_count == len(v):
        return pa.nulls(len(v), pa.int64())
    hashed = hash_fn(v.fill_null(fill)).view(np.int64)
    nulls = v.is_null().to_numpy(zero_copy_only=False) if v.null_count else None
    return pa.array(hashed, mask=nulls)


@arrow_udf(LongType())
def hll_hash_bigint_udf(v: pa.Array) -> pa.Array:
    """postgresql-hll's hll_hash_bigint: murmur3 x64-128 lower 64 of the
    value's 8 little-endian bytes (seed 0, the postgresql-hll default) —
    feed the result to hash_method='raw' sketches for
    ecosystem-identical registers. NULL hashes to NULL."""
    from ..hashing import murmur3_64_uint64, to_uint64

    return _hash_non_null(
        v, 0, lambda a: murmur3_64_uint64(to_uint64(a.to_numpy()))
    )


_TEXT_TYPES = (
    pa.null(), pa.string(), pa.large_string(), pa.binary(), pa.large_binary()
)


@arrow_udf(LongType())
def hll_hash_text_udf(v: pa.Array) -> pa.Array:
    """postgresql-hll's hll_hash_text: murmur3 x64-128 lower 64 of the
    UTF-8 bytes (seed 0, the postgresql-hll default). NULL hashes to
    NULL, matching postgresql-hll."""
    from ..hashing import murmur3_64_bytes

    if v.type not in _TEXT_TYPES:
        # hashing another type's text rendering would silently produce
        # values no other postgresql-hll client computes
        raise TypeError(
            "hll_hash_text: expected a string (or utf-8 bytes) column, "
            f"got {v.type}; cast upstream"
        )
    # murmur3_64_bytes hashes an Arrow string/binary array in place
    return _hash_non_null(v, "", murmur3_64_bytes)


def register_sql_functions(spark) -> None:
    """Expose the sketch column functions to SQL:

        SELECT lang, hll_cardinality(sketch) FROM sketches
        SELECT hll_cardinality(hll_union_pair(a.sketch, b.sketch)) ...
        SELECT hll_to_hex(sketch), hll_fold(sketch, 11) ...
        SELECT lang, hll_ndv_agg(sketch) FROM sketches GROUP BY lang

    Mirrors the reference's postgres-ecosystem usage (hex in a database
    column, src/hll.js:160-176; hll_union_agg from postgresql-hll) for
    users who live in spark.sql."""
    spark.udf.register("hll_cardinality", hll_cardinality_udf)
    spark.udf.register("hll_to_hex", hll_to_hex_udf)
    spark.udf.register("hll_from_hex", hll_from_hex_udf)
    spark.udf.register("hll_union_pair", hll_union_pair_udf)
    spark.udf.register("hll_fold", hll_fold_udf)
    spark.udf.register("hll_union_agg", hll_union_agg_udf)
    spark.udf.register("hll_ndv_agg", hll_ndv_agg_udf)
    spark.udf.register("hll_schema_version", hll_schema_version_udf)
    spark.udf.register("hll_log2m", hll_log2m_udf)
    spark.udf.register("hll_regwidth", hll_regwidth_udf)
    spark.udf.register("hll_type", hll_type_udf)
    spark.udf.register("hll_error_bound", hll_error_bound_udf)
    spark.udf.register("hll_intersection", hll_intersection_udf)
    spark.udf.register("hll_intersection_error", hll_intersection_error_udf)
    spark.udf.register("hll_jaccard", hll_jaccard_udf)
    spark.udf.register("hll_hash_bigint", hll_hash_bigint_udf)
    spark.udf.register("hll_hash_text", hll_hash_text_udf)
