"""Approximate nearest-neighbor search over an embedding column
(array<float> or array<double>).

Six tiers:

- ``ann_bruteforce``: exact cosine top-k of a broadcast (small) query set
  against the whole table — the correctness baseline.
- ``ann_lsh``: random-hyperplane LSH. A vector's cell is its b-bit
  signature (sign of the dot with b seeded hyperplanes); exact cosine
  re-ranks the vectors in a query's probed buckets.
- ``embedding_near_dups``: vector pairs at cosine >= threshold inside
  one LSH bucket, so the self-join never goes O(n^2).
- ``ann_ivf``: a spherical-k-means coarse quantizer. A vector's cell is
  its nearest centroid; exact cosine re-ranks a query's ``nprobe``
  nearest lists.
- ``ann_pq``: product quantization, the memory tier. Queries score
  m_sub-byte codes by an asymmetric-distance (ADC) lookup table.
- ``ann_ivfpq``: ``ann_pq`` scanning only a query's ``nprobe`` nearest
  coarse lists.

Every index tier is one shape: cells -> probes -> one scorer -> one
top-k. One numpy map per Arrow batch gives each vector its cell and
each query its probe cells (``_cells``; the PQ tiers' blobs in
``_pq_topk``), with the vector riding along, so no join reads an input
twice. Index tiers skip vectors and queries whose embedding is NULL or
not ``dim`` long, in their training sample too. Training (k-means, PQ
codebooks) is the one driver action of a build, over a bounded
deterministic sample; the hyperplanes are generated driver-side from
the seed and travel inside the map's closure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


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


def _unit(x: np.ndarray) -> np.ndarray:
    """The rows of ``x``, L2-normalized."""
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)


def _topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The ``k`` best (query_id, neighbor_id) rows per query by ``score``
    descending, ties to the smaller neighbor id, with their rank."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


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
    return _topk(scored, "cos", k)


def _vectors(col, dim: int) -> np.ndarray:
    """An Arrow list column of ``dim``-long vectors as float64 rows."""
    return col.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim).astype(np.float64)


def _map_vectors(
    df: DataFrame, id_col: str, vec_col: str, dim: int, kernel, schema: str,
    names: tuple[str, str] = ("__id", "__v"),
) -> DataFrame:
    """``kernel``, a mapInArrow function of (id, vector) batches, over
    the rows of ``df`` whose vector is ``dim`` long: NULL and
    wrong-length vectors are skipped."""
    return (
        df.filter(F.size(vec_col) == dim)
        .select(F.col(id_col).alias(names[0]), F.col(vec_col).alias(names[1]))
        .mapInArrow(kernel, schema)
    )


def _cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    cells_of,
    names: tuple[str, str] = ("neighbor_id", "__vv"),
) -> DataFrame:
    """One numpy map per Arrow batch. ``cells_of`` maps float64 vector
    rows to an int64 (rows, cells) array: a vector's one index cell, or
    a query's probe cells. Each row comes out once per cell as ``(id,
    vector, list_id)``; the vector rides along, so scoring joins no
    input back."""

    def ann_cells(batches):
        import pyarrow as pa

        for b in batches:
            cells = cells_of(_vectors(b.column(1), dim))
            rows = np.repeat(np.arange(b.num_rows), cells.shape[1])
            yield pa.RecordBatch.from_arrays(
                [b.column(0).take(rows), b.column(1).take(rows), pa.array(cells.reshape(-1))],
                names=[*names, "list_id"],
            )

    types = [df.schema[c].dataType.simpleString() for c in (id_col, vec_col)]
    schema = f"{names[0]} {types[0]}, {names[1]} {types[1]}, list_id bigint"
    return _map_vectors(df, id_col, vec_col, dim, ann_cells, schema, names)


def _cosine_topk(v: DataFrame, q: DataFrame, k: int, round_to: int) -> DataFrame:
    """Exact cosine top-k over the vector cells ``v`` a query's probe
    cells ``q`` meet. A vector has one cell and a query's probes are
    distinct, so every pair meets once."""
    scored = (
        v.join(F.broadcast(q), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__vv")), round_to).alias("cos"),
        )
    )
    return _topk(scored, "cos", k)


def hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((bits, dim))


def _signatures(x: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """b-bit random-hyperplane signatures of the float64 rows ``x`` as
    int64: bit i is set iff the dot with plane i is > 0. Each dot
    accumulates left to right from 0.0, the order of the Catalyst
    ``aggregate(zip_with)`` expression it replaced, so buckets are
    bit-identical to it."""
    dots = np.zeros((len(x), len(planes)))
    for j in range(x.shape[1]):
        dots += x[:, j, None] * planes[:, j]
    bits = (dots > 0).astype(np.int64) << np.arange(len(planes), dtype=np.int64)
    return np.bitwise_or.reduce(bits, axis=1)


def _planes(dim: int | None, bits: int, seed: int) -> np.ndarray:
    if dim is None:
        raise ValueError(
            "pass dim explicitly: array column length is not in the schema,"
            " and inferring it would run a driver-side job per call"
        )
    return hyperplanes(dim, bits, seed)


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
    planes = _planes(dim, bits, seed)
    # multi-probe: each query also checks every bucket at Hamming
    # distance 1 (sign flips near the hyperplane are the dominant miss
    # mode) — bits+1 probes per query for ~3x recall at no index cost
    flips = np.array([0] + [1 << i for i in range(bits)], dtype=np.int64)
    v = _cells(vectors, id_col, vec_col, dim, lambda x: _signatures(x, planes)[:, None])
    q = _cells(
        queries,
        id_col,
        vec_col,
        dim,
        lambda x: _signatures(x, planes)[:, None] ^ flips,
        ("query_id", "__qv"),
    )
    return _cosine_topk(v, q, k, round_to)


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
    planes = _planes(dim, bits, seed)
    v = _cells(vectors, id_col, vec_col, dim, lambda x: _signatures(x, planes)[:, None])
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.neighbor_id") < F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.neighbor_id").alias("id_a"),
            F.col("b.neighbor_id").alias("id_b"),
            F.round(cosine(F.col("a.__vv"), F.col("b.__vv")), 5).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _kmeans(sample: np.ndarray, nlist: int, iters: int, seed: int) -> np.ndarray:
    """Deterministic Lloyd's k-means on L2-normalized vectors (spherical
    k-means — argmax cosine == argmin L2 on the unit sphere). Strided
    init over the sorted sample keeps it seed-stable."""
    x = _unit(sample)
    idx = (np.arange(nlist) * len(x)) // nlist
    cent = x[idx].copy()
    for _ in range(iters):
        cent = _unit(cent)
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(nlist):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return _unit(cent)


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
    vector table (``stage_name``, columns neighbor_id, __vv, list_id): a
    resumed or repeated query run serves both from parquet without
    touching the raw corpus at all (the build-once/serve-many shape a
    real index has — probe-side centroids come from the SAME stage the
    assignments were built with, so they match by storage, not by
    retraining determinism). Returns (query_id, neighbor_id, cos,
    rank)."""
    if stage_runner is not None:
        spark = vectors.sparkSession

        def build_centroids() -> DataFrame:
            sample = _collect_train_sample(
                vectors, id_col, vec_col, train_sample, dim
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
        sample = _collect_train_sample(vectors, id_col, vec_col, train_sample, dim)
        cent = _kmeans(sample, nlist, iters, seed=0)
    cent_t = cent.T.copy()  # (dim, nlist)

    v = _cells(
        vectors, id_col, vec_col, dim, lambda x: np.argmax(_unit(x) @ cent_t, axis=1)[:, None]
    )
    if stage_runner is not None:
        # inputs= ties the assignment stage's manifest fingerprint to the
        # centroid stage (ADVICE r6): rebuilding/invalidating only the
        # centroids now forces re-assignment instead of silently serving
        # assignments computed against different centroids
        v = stage_runner.run(
            stage_name, lambda: v, inputs=[f"{stage_name}_centroids"]
        )
    q = _cells(
        queries,
        id_col,
        vec_col,
        dim,
        lambda x: np.argsort(-(_unit(x) @ cent_t), axis=1)[:, :nprobe],
        ("query_id", "__qv"),
    )
    return _cosine_topk(v, q, k, round_to)


def _collect_train_sample(
    vectors: DataFrame, id_col: str, vec_col: str, train_sample: int, dim: int
) -> np.ndarray:
    """Bounded deterministic training sample (first ``train_sample``
    ``dim``-long vectors by id) — the standard index-build step, one
    driver action amortized over every query. Fails fast on an empty
    vectors table (an empty sample would otherwise crash deep inside
    np.stack, ADVICE r3)."""
    sample = np.array(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in vectors.filter(F.size(vec_col) == dim)
            .select(vec_col)
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
    x = _unit(sample)
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


def _pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    sample: np.ndarray,
    cent: np.ndarray,
    nprobe: int,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    m_sub: int,
    ksub: int,
    iters: int,
    round_to: int,
    lut_chunk_bytes: int,
) -> DataFrame:
    """The PQ scorer of ``ann_pq`` and ``ann_ivfpq``: ADC top-k of each
    query over the vectors of its ``nprobe`` nearest coarse lists
    (centroids ``cent``; one zero centroid is one list of every vector).

    - Vector side: each Arrow batch becomes one row per coarse list it
      holds — the list id, its vector ids and their m_sub-byte codes as
      one blob. Vectors never shuffle.
    - Query side: one map computes each query's ADC lookup table
      (LUT[m, c] = dot(q_sub_m, codeword_mc), exact per-subspace dots, so
      ADC error comes only from vector quantization) and probed lists,
      packed into broadcast chunk rows of at most ``lut_chunk_bytes``
      each. One row holding every LUT hit Spark's ~2 GB Arrow/row limits
      on large query sets (r4 ADVICE); the driver never holds a query.
    - Scoring: the blobs cross the chunks once. Each (blob, chunk) row
      scores only the chunk's queries that probe the blob's list, and
      emits each one's local top-k.
    Returns (query_id, neighbor_id, adc, rank)."""
    books = _pq_train(sample, m_sub, ksub, iters)
    dsub = dim // m_sub
    code_dt = np.uint8 if ksub <= 256 else np.uint16
    cent_t = cent.T.copy()
    per_chunk = max(1, int(lut_chunk_bytes) // (m_sub * ksub * 8))

    def pq_encode(batches):
        import pyarrow as pa

        for b in batches:
            x = _unit(_vectors(b.column(1), dim))
            codes = _pq_encode(x, books, m_sub, dsub).astype(code_dt)
            lists = np.argmax(x @ cent_t, axis=1)
            order = np.argsort(lists, kind="stable")
            held, starts = np.unique(lists[order], return_index=True)
            ends = np.append(starts[1:], len(order))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(held, pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(np.append(0, ends), pa.int32()), b.column(0).take(order)
                    ),
                    pa.array([codes[order[s:e]].tobytes() for s, e in zip(starts, ends)], pa.binary()),
                ],
                names=["list_id", "__ids", "__codes"],
            )

    def pq_luts(batches):
        import pyarrow as pa

        for b in batches:
            x = _unit(_vectors(b.column(1), dim))
            luts = np.einsum("qmd,mcd->qmc", x.reshape(len(x), m_sub, dsub), books)
            probes = np.argsort(-(x @ cent_t), axis=1)[:, :nprobe]
            starts = range(0, len(x), per_chunk)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.ListArray.from_arrays(
                        pa.array([*starts, len(x)], pa.int32()), b.column(0)
                    ),
                    pa.array([luts[s : s + per_chunk].tobytes() for s in starts], pa.binary()),
                    pa.array([probes[s : s + per_chunk].tobytes() for s in starts], pa.binary()),
                ],
                names=["__qids", "__luts", "__probes"],
            )

    def pq_score(batches):
        import pyarrow as pa

        rng = np.arange(m_sub)
        for b in batches:
            for r in range(b.num_rows):  # rows: (code blob x LUT chunk)
                qids = b.column("__qids")[r].values
                probes = np.frombuffer(b.column("__probes")[r].as_buffer(), np.int64)
                probes = probes.reshape(len(qids), -1)
                hit = np.flatnonzero((probes == b.column("list_id")[r].as_py()).any(axis=1))
                if not len(hit):
                    continue
                luts = np.frombuffer(b.column("__luts")[r].as_buffer())
                luts = luts.reshape(-1, m_sub, ksub)
                codes = np.frombuffer(b.column("__codes")[r].as_buffer(), code_dt)
                codes = codes.reshape(-1, m_sub).astype(np.int64)
                ids = b.column("__ids")[r].values
                idn = ids.to_numpy(zero_copy_only=False)
                qn = qids.to_numpy(zero_copy_only=False)
                qi, ni, adc = [], [], []
                for j in hit:
                    # ADC score = sum over subspaces of LUT[code]
                    s = luts[j][rng[None, :], codes].sum(axis=1)
                    keep = np.flatnonzero(idn != qn[j])
                    # round BEFORE the local cut with the same (score
                    # desc, id asc) tie-break as the global window — an
                    # unrounded cut could drop a candidate that ties
                    # after rounding and would win on id, making output
                    # partition-dependent
                    sm = np.round(s[keep], round_to)
                    top = np.lexsort((idn[keep], -sm))[:k]
                    qi.append(np.full(len(top), j))
                    ni.append(keep[top])
                    adc.append(sm[top])
                yield pa.RecordBatch.from_arrays(
                    [
                        qids.take(np.concatenate(qi)),
                        ids.take(np.concatenate(ni)),
                        pa.array(np.concatenate(adc)),
                    ],
                    names=["query_id", "neighbor_id", "adc"],
                )

    vid = vectors.schema[id_col].dataType.simpleString()
    qid = queries.schema[id_col].dataType.simpleString()
    blobs = _map_vectors(
        vectors, id_col, vec_col, dim, pq_encode,
        f"list_id bigint, __ids array<{vid}>, __codes binary",
    )
    chunks = _map_vectors(
        queries, id_col, vec_col, dim, pq_luts,
        f"__qids array<{qid}>, __luts binary, __probes binary",
    )
    scored = blobs.crossJoin(F.broadcast(chunks)).mapInArrow(
        pq_score, f"query_id {qid}, neighbor_id {vid}, adc double"
    )
    return _topk(scored.withColumn("adc", F.round("adc", round_to)), "adc", k)


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
    bytes, 32x). Queries score vectors by asymmetric distance (ADC):
    one (m_sub x ksub) lookup table of exact query-to-codeword dot
    products per query, then a scan over CODES — at 10^12 rows the scan
    reads m_sub bytes per vector instead of 4*dim, and each code blob
    (one per Arrow batch) emits only its local top-k per query
    (map-side combine), so the final re-rank never sees vectors.

    Training is the one bounded driver-side action (the standard PQ
    train step, same contract as ann_ivf's quantizer). Queries stay a
    DataFrame end to end (VERDICT r3 #4): their LUTs are computed
    executor-side and broadcast in chunk rows of at most
    ``lut_chunk_bytes`` each (see ``_pq_topk``). Returns (query_id,
    neighbor_id, adc, rank) — adc approximates the cosine of normalized
    vectors; rank quality is carried by recall_at_k in the registry."""
    sample = _collect_train_sample(vectors, id_col, vec_col, train_sample, dim)
    return _pq_topk(
        vectors, queries, sample, np.zeros((1, dim)), 1,
        id_col=id_col, vec_col=vec_col, k=k, dim=dim, m_sub=m_sub, ksub=ksub,
        iters=iters, round_to=round_to, lut_chunk_bytes=lut_chunk_bytes,
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
    vectors: both ANN scale levers at once (list pruning for compute,
    code compression for bytes).

    It is ``ann_pq``'s scorer (``_pq_topk``) with the coarse lists:
    each Arrow batch of vectors becomes one code blob per list it
    holds, and a (blob, LUT chunk) row scores only the queries that
    probe the blob's list. Vectors never shuffle, and the query side is
    read by one plan, so nothing is materialized. Empty query tables
    flow through as empty results with the declared schema (r3 ADVICE
    crash). Returns (query_id, neighbor_id, adc, rank)."""
    sample = _collect_train_sample(vectors, id_col, vec_col, train_sample, dim)
    return _pq_topk(
        vectors, queries, sample, _kmeans(sample, nlist, iters, seed=0), nprobe,
        id_col=id_col, vec_col=vec_col, k=k, dim=dim, m_sub=m_sub, ksub=ksub,
        iters=iters, round_to=round_to, lut_chunk_bytes=lut_chunk_bytes,
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
