"""Approximate nearest-neighbor search over an embedding column
(array<float>).

Two tiers:

- ``ann_bruteforce``: exact cosine top-k via a broadcast of the (small)
  query set against the full table — the correctness baseline. The dot
  product runs JVM-side with ``F.zip_with``/``F.aggregate`` (no UDF).
- ``ann_lsh``: random-hyperplane LSH — each vector gets a b-bit signature
  (sign of dot with b fixed pseudo-random hyperplanes); candidates share a
  signature bucket, then exact cosine re-ranks inside buckets. The scale
  path: the self-join keys on the bucket hash, so at 10^12 rows the
  shuffle is uniform and candidate counts are bounded by bucket sizes.

Hyperplanes are generated deterministically (seeded) driver-side and
inlined as literal arrays — they are tiny (b x dim floats) and broadcast
with the plan itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def cosine(a, b):
    """Cosine similarity of two array columns — r7: a vectorized Arrow
    kernel replacing the Catalyst higher-order chain
    (``aggregate(zip_with(a, b, *), 0.0, +)`` ran its lambdas
    INTERPRETED per element: 3 aggregates x dim evaluations per pair
    dominated ann_bruteforce).

    The kernel is engineered BIT-IDENTICAL to the old expression, which
    the hash-exact oracles require: products are taken in the arrays'
    native dtype (float32 inputs multiply in float32 before the
    accumulate upcast, exactly as Catalyst multiplies float columns and
    casts the product to double), accumulation is strictly sequential
    left-to-right into a float64 accumulator seeded 0.0 (never
    numpy's pairwise ``sum``), and the final expression is
    dot/(sqrt(dot_aa)*sqrt(dot_bb)) in float64 — the identical IEEE
    operation sequence, hence identical doubles. NULL arrays yield
    NULL; length-mismatched pairs yield NULL (zip_with padded the
    shorter side with nulls, poisoning the sum); empty arrays yield
    NaN (0/0) — all mirrored."""
    @F.pandas_udf("double")
    def kernel(av: pd.Series, bv: pd.Series) -> pd.Series:
        ava, bva = av.to_numpy(), bv.to_numpy()
        n = len(ava)
        vals = np.zeros(n, dtype=np.float64)
        null = np.ones(n, dtype=bool)
        groups: dict[int, list[int]] = {}
        for i in range(n):
            x, y = ava[i], bva[i]
            if x is None or y is None or len(x) != len(y):
                continue
            groups.setdefault(len(x), []).append(i)
        for dim, idxs in groups.items():
            A = np.array([ava[i] for i in idxs])
            B = np.array([bva[i] for i in idxs])
            m = len(idxs)
            ab = np.zeros(m, dtype=np.float64)
            aa = np.zeros(m, dtype=np.float64)
            bb = np.zeros(m, dtype=np.float64)
            for j in range(dim):
                # products in the NATIVE dtype, accumulate in float64 —
                # the Catalyst promotion order
                ab += A[:, j] * B[:, j]
                aa += A[:, j] * A[:, j]
                bb += B[:, j] * B[:, j]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = ab / (np.sqrt(aa) * np.sqrt(bb))
            ii = np.asarray(idxs)
            vals[ii] = cos
            null[ii] = False
        # a masked FloatingArray keeps the NULL-vs-NaN distinction
        # through Arrow: NULL inputs stay NULL (validity mask) while a
        # computed 0/0 stays a NaN VALUE (empty arrays), exactly like
        # the Catalyst expression — an object series would collapse the
        # computed NaN into NULL
        return pd.Series(pd.arrays.FloatingArray(vals, null))

    return kernel(a, b)


def ann_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query against all vectors.
    Returns (query_id, neighbor_id, cos, rank). ``queries`` must be small
    (it is broadcast)."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__vv")), round_to).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((bits, dim))


def lsh_signature(vec_col, planes: np.ndarray):
    """b-bit random-hyperplane signature as a long (sign-of-dot bits)."""
    sig = F.lit(0).cast("long")
    for i, row in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in row])
        bit = F.when(_dot(vec_col, plane) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return sig


def ann_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    dim: int | None = None,
    seed: int = 42,
    round_to: int = 5,
) -> DataFrame:
    """LSH-bucketed cosine top-k: candidates = vectors sharing the query's
    signature bucket; exact cosine re-ranks candidates. Recall < 1 by
    construction; raise ``bits`` fan-out (multi-probe) for higher recall."""
    from pyspark.sql.window import Window

    if dim is None:
        raise ValueError(
            "pass dim explicitly: array column length is not in the schema,"
            " and inferring it would run a driver-side job per call"
        )
    planes = hyperplanes(dim, bits, seed)
    sig = lsh_signature(F.col(vec_col), planes)
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vv"),
        sig.alias("__bucket"),
    )
    # multi-probe: each query also checks every bucket at Hamming
    # distance 1 (sign flips near the hyperplane are the dominant miss
    # mode) — bits+1 probes per query for ~3x recall at no index cost
    probe_offsets = [0] + [1 << i for i in range(bits)]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(
            F.array(*[sig.bitwiseXOR(F.lit(p)) for p in probe_offsets])
        ).alias("__bucket"),
    )
    scored = (
        v.join(F.broadcast(q), "__bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__vv")), round_to).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def embedding_near_dups(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold), LSH-bucketed so
    the self-join never goes O(n^2). Returns (id_a, id_b, cos)."""
    if dim is None:
        raise ValueError(
            "pass dim explicitly: array column length is not in the schema,"
            " and inferring it would run a driver-side job per call"
        )
    planes = hyperplanes(dim, bits, seed)
    sig = lsh_signature(F.col(vec_col), planes)
    v = vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), sig.alias("__bucket")
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.round(cosine(F.col("a.__v"), F.col("b.__v")), 5).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _kmeans(sample: np.ndarray, nlist: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic Lloyd's k-means on L2-normalized vectors (spherical
    k-means — argmax cosine == argmin L2 on the unit sphere). Strided
    init over the sorted sample keeps it seed-stable."""
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    idx = (np.arange(nlist) * len(x)) // nlist
    cent = x[idx].copy()
    for _ in range(iters):
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(nlist):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def ann_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    dim: int,
    train_sample: int = 4096,
    iters: int = 8,
    round_to: int = 5,
    stage_runner=None,
    stage_name: str = "ivf_index",
) -> DataFrame:
    """IVF (inverted-file) cosine top-k: a coarse spherical-k-means
    quantizer partitions vectors into ``nlist`` lists; each query probes
    its ``nprobe`` nearest lists and exact cosine re-ranks only those
    candidates.

    Index build trains the quantizer on a bounded, DETERMINISTIC sample
    (first ``train_sample`` rows by id — one driver action per index
    build, the standard IVF train step, amortized over every query).
    Assignment runs as a vectorized numpy matmul per Arrow batch; at
    10^12 rows the candidate join keys on the list id, so the shuffle is
    bounded by list sizes — the classic IVF trade (recall vs nprobe).

    ``stage_runner`` (VERDICT r5 #5) persists the INDEX as durable
    StageRunner parquet stages — the trained centroids
    (``{stage_name}_centroids``, nlist tiny rows) and the assigned
    vector table (``stage_name``): a resumed or repeated query run
    serves both from parquet without touching the raw corpus at all
    (the build-once/serve-many shape a real index has — probe-side
    centroids come from the SAME stage the assignments were built
    with, so they match by storage, not by retraining determinism).
    Returns (query_id, neighbor_id, cos, rank)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.window import Window

    if stage_runner is not None:
        spark = vectors.sparkSession

        def build_centroids() -> DataFrame:
            sample = _collect_train_sample(
                vectors, id_col, vec_col, train_sample
            )
            c = _kmeans(sample, nlist, iters, seed=0)
            return spark.createDataFrame(
                [(i, c[i].tolist()) for i in range(len(c))],
                "list_id bigint, centroid array<double>",
            )

        cent_rows = (
            stage_runner.run(f"{stage_name}_centroids", build_centroids)
            .orderBy("list_id")
            .collect()
        )
        cent = np.array([r["centroid"] for r in cent_rows])
    else:
        sample = _collect_train_sample(vectors, id_col, vec_col, train_sample)
        cent = _kmeans(sample, nlist, iters, seed=0)
    cent_t = cent.T.copy()  # (dim, nlist)

    # assign inline (vector rides along) — no self-join of the vector
    # table against its own assignment, so the only shuffle left is the
    # candidate join on list_id
    def assign_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__vv"].to_numpy()).astype(np.float64)
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            pdf = pdf.copy()
            pdf["list_id"] = np.argmax(xn @ cent_t, axis=1).astype(np.int64)
            yield pdf

    v_in = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv")
    )
    assign_schema = StructType(
        [
            StructField("neighbor_id", vectors.schema[id_col].dataType, False),
            StructField("__vv", vectors.schema[vec_col].dataType, False),
            StructField("list_id", LongType(), False),
        ]
    )
    v = v_in.mapInPandas(assign_fn, schema=assign_schema)
    if stage_runner is not None:
        # inputs= ties the assignment stage's manifest fingerprint to the
        # centroid stage (ADVICE r6): rebuilding/invalidating only the
        # centroids now forces re-assignment instead of silently serving
        # assignments computed against different centroids
        v = stage_runner.run(
            stage_name, lambda: v, inputs=[f"{stage_name}_centroids"]
        )

    # queries probe their nprobe nearest lists (numpy once per batch)
    def probe_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(x @ cent_t), axis=1)[:, :nprobe]
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].repeat(nprobe),
                    "list_id": order.reshape(-1).astype(np.int64),
                }
            )

    q_in = queries.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    q_lists = q_in.mapInPandas(
        probe_fn,
        schema=StructType(
            [
                StructField("__id", queries.schema[id_col].dataType, False),
                StructField("list_id", LongType(), False),
            ]
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).join(
        q_lists.withColumnRenamed("__id", "query_id"), "query_id"
    )

    scored = (
        v.join(F.broadcast(q), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__vv")), round_to).alias("cos"),
        )
        # a vector can meet the same query through one list only, but a
        # query probing nprobe lists meets each list's vectors once —
        # pairs are already unique; still dedup defensively
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _collect_train_sample(
    vectors: DataFrame, id_col: str, vec_col: str, train_sample: int
) -> np.ndarray:
    """Bounded deterministic training sample (first ``train_sample`` rows
    by id) — the standard index-build step, one driver action amortized
    over every query. Fails fast on an empty vectors table (an empty
    sample would otherwise crash deep inside np.stack, ADVICE r3)."""
    sample = np.array(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in vectors.select(vec_col)
            .orderBy(F.col(id_col))
            .limit(train_sample)
            .collect()
        ]
    )
    if sample.size == 0:
        raise ValueError(
            "ANN index training requires a non-empty vectors table"
        )
    return sample


def _pq_train(
    sample: np.ndarray, m_sub: int, ksub: int, iters: int
) -> np.ndarray:
    """Deterministic per-subspace Lloyd's k-means on L2-normalized
    vectors. Returns codebooks of shape (m_sub, ksub, dsub)."""
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    dsub = x.shape[1] // m_sub
    books = np.empty((m_sub, ksub, dsub), dtype=np.float64)
    for m in range(m_sub):
        xs = x[:, m * dsub : (m + 1) * dsub]
        idx = (np.arange(ksub) * len(xs)) // ksub
        cent = xs[np.argsort(xs[:, 0], kind="stable")][idx].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d, axis=1)
            for j in range(ksub):
                members = xs[assign == j]
                if len(members):
                    cent[j] = members.mean(axis=0)
        books[m] = cent
    return books


def _pq_encode(
    x: np.ndarray, books: np.ndarray, m_sub: int, dsub: int
) -> np.ndarray:
    """Nearest codeword per subspace for L2-normalized rows ``x``."""
    xs = x.reshape(len(x), m_sub, dsub)
    codes = np.empty((len(x), m_sub), dtype=np.int64)
    for m in range(m_sub):
        d = ((xs[:, m, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = np.argmin(d, axis=1)
    return codes


def _chunk_rows_for(m_sub: int, ksub: int, chunk_bytes: int) -> int:
    """Queries per LUT chunk so one chunk row stays under ``chunk_bytes``
    (a LUT is m_sub*ksub float64s per query)."""
    return max(1, int(chunk_bytes) // (m_sub * ksub * 8))


def _lut_chunk_table(
    per_query: DataFrame,
    *,
    m_sub: int,
    ksub: int,
    chunk_bytes: int,
) -> DataFrame:
    """Collapse a per-query (query_id, __lut) table into BOUNDED chunk
    rows (__chunk, __q: array<struct<query_id, __lut>>) for a broadcast
    cross join.

    The earlier one-row collapse (collect_list over ALL queries) made
    the blob size |Q| * m_sub * ksub * 8 bytes in a single row — past
    ~2 GB that is a hard Arrow/row-size failure, so a large query set
    crashed instead of degrading. Chunk rows cap each row at
    ``chunk_bytes`` (the total broadcast still scales with |Q|, which is
    the intended contract: the query set is the small side by design,
    and Spark's broadcast machinery handles multi-row tables far more
    gracefully than single giant rows). Chunk ids are unique across
    partitions (partitionId * 2^32 + local index); scoring caches the
    parsed numpy LUTs per chunk id. An empty query table yields zero
    rows, which the cross join turns into an empty (declared-schema)
    result."""
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rows_per_chunk = _chunk_rows_for(m_sub, ksub, chunk_bytes)
    qid_dt = per_query.schema["query_id"].dataType
    chunk_schema = StructType(
        [
            StructField("__chunk", LongType(), False),
            StructField(
                "__q",
                ArrayType(
                    StructType(
                        [
                            StructField("query_id", qid_dt, False),
                            StructField("__lut", ArrayType(DoubleType()), False),
                        ]
                    )
                ),
                False,
            ),
        ]
    )

    def chunk_fn(batches):
        pid = TaskContext.get().partitionId()
        local = 0
        for pdf in batches:
            for s in range(0, len(pdf), rows_per_chunk):
                part = pdf.iloc[s : s + rows_per_chunk]
                yield pd.DataFrame(
                    {
                        "__chunk": [(pid << 32) | local],
                        "__q": [
                            [
                                {"query_id": q, "__lut": list(l)}
                                for q, l in zip(part["query_id"], part["__lut"])
                            ]
                        ],
                    }
                )
                local += 1

    return per_query.mapInPandas(chunk_fn, schema=chunk_schema)


def _query_lut_chunks(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    books: np.ndarray,
    m_sub: int,
    dsub: int,
    ksub: int,
    chunk_bytes: int,
) -> DataFrame:
    """Per-query ADC lookup tables, computed EXECUTOR-side (mapInPandas
    over the query DataFrame — the driver never collects a query vector)
    and collapsed into bounded chunk rows (see :func:`_lut_chunk_table`)
    for the broadcast cross join. LUT[m, c] = dot(q_sub_m, codeword_mc):
    exact per-subspace dots, so ADC error comes only from vector
    quantization."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    lut_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType, False),
            StructField("__lut", ArrayType(DoubleType()), False),
        ]
    )

    def lut_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qx = np.stack(pdf["__qv"].to_numpy()).astype(np.float64)
            qx = qx / np.maximum(np.linalg.norm(qx, axis=1, keepdims=True), 1e-12)
            luts = np.einsum(
                "qmd,mcd->qmc", qx.reshape(len(qx), m_sub, dsub), books
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "__lut": list(luts.reshape(len(qx), -1)),
                }
            )

    per_query = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).mapInPandas(lut_fn, schema=lut_schema)
    return _lut_chunk_table(
        per_query, m_sub=m_sub, ksub=ksub, chunk_bytes=chunk_bytes
    )


def ann_pq(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int,
    m_sub: int = 8,
    ksub: int = 256,
    train_sample: int = 4096,
    iters: int = 8,
    round_to: int = 5,
    lut_chunk_bytes: int = 64 << 20,
) -> DataFrame:
    """Product-quantization cosine top-k — the MEMORY tier of the ANN
    family (FAISS-style PQ): vectors L2-normalize, each of ``m_sub``
    subvectors quantizes to its nearest of ``ksub`` codewords, so a
    dim-float embedding compresses to m_sub bytes (64 floats -> 8
    bytes, 32x). Queries score candidates by asymmetric distance (ADC):
    one (m_sub x ksub) lookup table of exact query-to-codeword dot
    products per query, then a scan over CODES — at 10^12 rows the scan
    reads m_sub bytes per vector instead of 4*dim, and each partition
    emits only its local top-k per query (map-side combine), so the
    final re-rank sees |queries| x k rows per partition, never vectors.

    Training is the one bounded driver-side action (the standard PQ
    train step, same contract as ann_ivf's quantizer). Queries stay a
    DataFrame end to end (VERDICT r3 #4): per-query LUTs are computed
    executor-side by a mapInPandas over the query table, collapsed into
    broadcast chunk rows of at most ``lut_chunk_bytes`` each (a single
    collapsed row used to hit Spark's ~2 GB Arrow/row hard limits on
    large query sets — r4 ADVICE), and crossed ONCE with
    batch-collapsed code blobs — so scoring still runs as a numpy LUT
    scan with per-batch local top-k, and the driver never materializes
    a query vector. Returns (query_id, neighbor_id, adc,
    rank) — adc approximates the cosine of normalized vectors; rank
    quality is carried by recall_at_k in the registry."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DoubleType,
        StructField,
        StructType,
    )
    from pyspark.sql.window import Window

    sample = _collect_train_sample(vectors, id_col, vec_col, train_sample)
    books = _pq_train(sample, m_sub, ksub, iters)
    dsub = dim // m_sub
    code_dt = np.uint8 if ksub <= 256 else np.uint16

    q_chunks = _query_lut_chunks(
        queries,
        id_col,
        vec_col,
        books=books,
        m_sub=m_sub,
        dsub=dsub,
        ksub=ksub,
        chunk_bytes=lut_chunk_bytes,
    )

    # ---- vector side: encode once, one compact blob row per Arrow batch
    # (ids + m_sub bytes/vector — the 10^12-row scan reads codes, never
    # vectors, and the cross join meets |batches| rows, not |vectors|)
    enc_schema = StructType(
        [
            StructField("__ids", ArrayType(vectors.schema[id_col].dataType), False),
            StructField("__codes", BinaryType(), False),
        ]
    )

    def encode_blob(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__vv"].to_numpy()).astype(np.float64)
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            codes = _pq_encode(x, books, m_sub, dsub).astype(code_dt)
            yield pd.DataFrame(
                {
                    "__ids": [pdf["neighbor_id"].tolist()],
                    "__codes": [codes.tobytes()],
                }
            )

    v_blobs = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv")
    ).mapInPandas(encode_blob, schema=enc_schema)

    out_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType, False),
            StructField("neighbor_id", vectors.schema[id_col].dataType, False),
            StructField("adc", DoubleType(), False),
        ]
    )

    def score_fn(batches):
        rng = np.arange(m_sub)
        # every chunk row recurs on each blob row of the cross join —
        # parse each chunk's (query_id, lut) structs to numpy once per
        # task (keyed by chunk id), not per row
        parsed: dict = {}
        for pdf in batches:
            for _, row in pdf.iterrows():  # rows: (vector blob x LUT chunk)
                qlist = row["__q"]
                if qlist is None or not len(qlist):
                    continue
                cid = row["__chunk"]
                if cid not in parsed:
                    parsed[cid] = [
                        (q["query_id"], np.asarray(q["__lut"]).reshape(m_sub, ksub))
                        for q in qlist
                    ]
                ids = np.asarray(row["__ids"])
                codes = (
                    np.frombuffer(row["__codes"], dtype=code_dt)
                    .reshape(-1, m_sub)
                    .astype(np.int64)
                )
                parts = []
                for qid, lut in parsed[cid]:
                    # ADC score = sum over subspaces of LUT[code]
                    s = lut[rng[None, :], codes].sum(axis=1)
                    mask = ids != qid
                    # round BEFORE the local cut with the same (score
                    # desc, id asc) tie-break as the global window — an
                    # unrounded cut could drop a candidate that ties
                    # after rounding and would win on id, making output
                    # partition-dependent
                    sm, idm = np.round(s[mask], round_to), ids[mask]
                    top = np.lexsort((idm, -sm))[:k]
                    parts.append(
                        pd.DataFrame(
                            {"query_id": qid, "neighbor_id": idm[top], "adc": sm[top]}
                        )
                    )
                if parts:
                    yield pd.concat(parts, ignore_index=True)

    scored = v_blobs.crossJoin(F.broadcast(q_chunks)).mapInPandas(
        score_fn, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("adc", F.round("adc", round_to))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def ann_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int,
    nlist: int = 16,
    nprobe: int = 4,
    m_sub: int = 16,
    ksub: int = 256,
    train_sample: int = 4096,
    iters: int = 8,
    round_to: int = 5,
    lut_chunk_bytes: int = 64 << 20,
) -> DataFrame:
    """IVF + PQ — the standard composed index (FAISS IVFPQ shape): a
    coarse spherical-k-means quantizer prunes candidates to ``nprobe``
    lists per query, and scoring inside the probed lists runs on
    ``m_sub``-byte PQ codes via the ADC lookup table instead of full
    vectors. The candidate join therefore shuffles (list_id, id, codes)
    rows — m_sub bytes of payload per vector instead of 4*dim — and
    touches only the probed fraction of the table: both ANN scale levers
    at once (list pruning for compute, code compression for bytes).

    Queries stay a DataFrame end to end (VERDICT r3 #4): probe lists AND
    ADC LUTs are computed executor-side by one mapInPandas over the
    query table; the probe pairs broadcast-join the encoded vectors, and
    the LUTs reach scoring as bounded broadcast chunk rows (at most
    ``lut_chunk_bytes`` each — the single-row collapse hit Spark's
    ~2 GB Arrow/row limits on large query sets) crossed once with
    batch-collapsed candidate blobs. Empty query tables flow
    through as empty results with the declared schema (r3 ADVICE crash).
    Returns (query_id, neighbor_id, adc, rank)."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )
    from pyspark.sql.window import Window

    sample = _collect_train_sample(vectors, id_col, vec_col, train_sample)
    cent = _kmeans(sample, nlist, iters, seed=0)
    cent_t = cent.T.copy()
    books = _pq_train(sample, m_sub, ksub, iters)
    dsub = dim // m_sub
    code_dt = np.uint8 if ksub <= 256 else np.uint16

    # ---- query side: one executor pass derives probe lists and LUTs
    q_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType, False),
            StructField("__lut", ArrayType(DoubleType()), False),
            StructField("__lists", ArrayType(LongType()), False),
        ]
    )

    def q_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qx = np.stack(pdf["__qv"].to_numpy()).astype(np.float64)
            qx = qx / np.maximum(np.linalg.norm(qx, axis=1, keepdims=True), 1e-12)
            luts = np.einsum(
                "qmd,mcd->qmc", qx.reshape(len(qx), m_sub, dsub), books
            )
            probes = np.argsort(-(qx @ cent_t), axis=1)[:, :nprobe].astype(np.int64)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "__lut": list(luts.reshape(len(qx), -1)),
                    "__lists": list(probes),
                }
            )

    # materialize the query-side pass ONCE: q_lists and q_chunks both
    # read it, and two live executions of a non-deterministic query
    # source (sample(), unordered limit()) could diverge — a candidate
    # whose query_id is missing from the LUT list would crash scoring.
    # The eager checkpoint runs a (query-table-sized) job at
    # construction; this is a serving API whose result is always
    # executed, so the consistency guarantee wins over laziness here
    # (unlike the dedup stages, which expose materialize=False for plan
    # inspection). LIFECYCLE: the checkpoint must outlive the returned
    # (lazy) DataFrame, so the operator cannot free it — callers that
    # loop ann_ivfpq in one long session should sweep retired blocks
    # between iterations (js_hll_spark/spark/blocks.py keep-set recipe;
    # bench.py does).
    q_side = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).mapInPandas(q_fn, schema=q_schema).localCheckpoint()
    q_lists = q_side.select("query_id", F.explode("__lists").alias("list_id"))
    q_chunks = _lut_chunk_table(
        q_side.select("query_id", "__lut"),
        m_sub=m_sub,
        ksub=ksub,
        chunk_bytes=lut_chunk_bytes,
    )

    # one pass assigns the list AND encodes: only (id, list_id, codes)
    # leave this stage — vectors never shuffle
    enc_schema = StructType(
        [
            StructField("neighbor_id", vectors.schema[id_col].dataType, False),
            StructField("list_id", LongType(), False),
            StructField("codes", ArrayType(IntegerType()), False),
        ]
    )

    def encode_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__vv"].to_numpy()).astype(np.float64)
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            lists = np.argmax(x @ cent_t, axis=1).astype(np.int64)
            codes = _pq_encode(x, books, m_sub, dsub).astype(np.int32)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "list_id": lists,
                    "codes": list(codes),
                }
            )

    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vv")
    ).mapInPandas(encode_fn, schema=enc_schema)

    cand = (
        v.join(F.broadcast(q_lists), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "codes")
    )

    # ---- scoring: collapse candidate batches to compact blob rows, then
    # cross the one-row LUT table once (never a per-candidate LUT copy)
    blob_schema = StructType(
        [
            StructField("__qids", ArrayType(queries.schema[id_col].dataType), False),
            StructField("__nids", ArrayType(vectors.schema[id_col].dataType), False),
            StructField("__codes", BinaryType(), False),
        ]
    )

    def blobify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(code_dt)
            yield pd.DataFrame(
                {
                    "__qids": [pdf["query_id"].tolist()],
                    "__nids": [pdf["neighbor_id"].tolist()],
                    "__codes": [codes.tobytes()],
                }
            )

    score_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType, False),
            StructField("neighbor_id", vectors.schema[id_col].dataType, False),
            StructField("adc", DoubleType(), False),
        ]
    )

    def adc_fn(batches):
        rng = np.arange(m_sub)
        # parse each broadcast LUT chunk once per task (keyed by chunk
        # id). A candidate blob row pairs with EVERY chunk; each pair
        # scores only the candidates whose query lives in that chunk —
        # chunks partition the query set, so every candidate is scored
        # exactly once across the cross join.
        cache: dict = {}
        for pdf in batches:
            for _, row in pdf.iterrows():  # rows: (candidate blob x chunk)
                qlist = row["__q"]
                if qlist is None or not len(qlist):
                    continue
                cid = row["__chunk"]
                if cid not in cache:
                    cache[cid] = {
                        qr["query_id"]: np.asarray(qr["__lut"]).reshape(
                            m_sub, ksub
                        )
                        for qr in qlist
                    }
                lut_by_qid = cache[cid]
                qcol = np.asarray(row["__qids"])
                nids = np.asarray(row["__nids"])
                codes = (
                    np.frombuffer(row["__codes"], dtype=code_dt)
                    .reshape(-1, m_sub)
                    .astype(np.int64)
                )
                out = np.empty(len(qcol))
                hit = np.zeros(len(qcol), dtype=bool)
                for qid in pd.unique(qcol):
                    lut = lut_by_qid.get(qid)
                    if lut is None:
                        continue  # query belongs to another chunk
                    mask = qcol == qid
                    hit |= mask
                    out[mask] = lut[rng[None, :], codes[mask]].sum(axis=1)
                if hit.any():
                    yield pd.DataFrame(
                        {
                            "query_id": qcol[hit],
                            "neighbor_id": nids[hit],
                            "adc": out[hit],
                        }
                    )

    scored = (
        cand.mapInPandas(blobify, schema=blob_schema)
        .crossJoin(F.broadcast(q_chunks))
        .mapInPandas(adc_fn, schema=score_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("adc", F.round("adc", round_to))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Annotate an ANN result with per-query recall vs an exact baseline:
    |approx ∩ exact_topk| / |exact_topk|, repeated on each of the query's
    rows (so the number an operator actually watches — the recall/nprobe
    trade — travels WITH the result instead of living only in a test).
    Both inputs carry (query_id, neighbor_id)."""
    ex = exact.select("query_id", "neighbor_id")
    denom = ex.groupBy("query_id").agg(F.count(F.lit(1)).alias("__n_exact"))
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(ex, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n_hit"))
    )
    rec = denom.join(hits, "query_id", "left").select(
        "query_id",
        F.round(
            F.coalesce(F.col("__n_hit"), F.lit(0)) / F.col("__n_exact"), 4
        ).alias("recall_at_k"),
    )
    # no forced broadcast: rec scales with the query count, and AQE
    # broadcasts it at runtime when it fits (a pinned hint would OOM on
    # a million-query production run)
    return approx.join(rec, "query_id", "left")
