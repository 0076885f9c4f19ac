"""Mergeable sketch aggregation over DataFrames — two engines with
bit-identical sketches.

Why not a GROUPED_AGG pandas UDF straight on raw rows: that shuffles the
*raw rows* to their groups — fatal at 10^12 rows (SURVEY.md §4.3-1).
Both engines reduce each partition before the only raw-data shuffle, so
a hot key ('en' at 60%) costs at most m register rows or one ~m-byte
blob per partition, never its raw rows.

**SQL engine** (``hll_sketch_sql``; default for xxhash64/raw hashes):
Catalyst hashes, computes rho and aggregates
``groupBy(keys, idx).agg(max(rho))`` in codegen, then packs each group
into ONE row with ``collect_list((idx << 8) | val)``. A ``mapInArrow``
kernel (``hll_assemble``) places the registers, encodes and estimates:
one Python row per group, keys kept as Arrow columns.

**Python engine** (``mapInPandas`` harness; required for the AK murmur3
hash): each partition reduces to one register file per key with numpy
``np.maximum.at``; an optional tree level keyed by
``(key, partition_id % fanin)`` bounds the final fan-in (lossless: the
union is a commutative, associative, idempotent max — reference
src/hll.js:345-346); the final merge max-reduces the blobs and runs the
estimator once per group.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..config import HLLConfig
from ..core.hll import HLL, estimate_from_registers, update_registers
from ..hashing import murmur3_64_bytes, murmur3_64_uint64, to_uint64

_HASH_COL = "__h64"
_SKETCH_COL = "sketch"
_PID_COL = "__pid"
_ROWS_COL = "rows_seen"
_PACKED_COL = "__regs"


def _null_safe_change_mask(kcols: list[pd.Series]) -> np.ndarray:
    """Row mask marking group boundaries in key-sorted batches, treating
    null == null. Arrow->pandas surfaces nullable numeric/timestamp keys
    as NaN/NaT, and NaN != NaN would otherwise split a null-keyed group
    into one group per row."""
    n = len(kcols[0])
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for kc in kcols:
        na = kc.isna().to_numpy()
        vals = kc.to_numpy()
        with np.errstate(invalid="ignore"):
            neq = vals[1:] != vals[:-1]
        neq = np.asarray(neq, dtype=bool)
        # a pair of nulls is never a boundary; a single null always is
        # (covers float columns where NaN != NaN already reads True and
        # object columns where None != None reads False)
        both_na = na[1:] & na[:-1]
        one_na = na[1:] ^ na[:-1]
        change[1:] |= (neq & ~both_na) | one_na
    return change


def _key_tuple(kcols: list[pd.Series], i: int) -> tuple:
    """Group-key tuple at row ``i`` with NaN/NaT normalized to None so
    tuple equality across Arrow batch boundaries is null-safe."""
    vals = []
    for kc in kcols:
        v = kc.iloc[i]
        vals.append(None if pd.isna(v) else v)
    return tuple(vals)


def norm_group_key(g) -> tuple:
    """groupby().indices key as a NaN/NaT->None-normalized tuple.
    pandas materializes a FRESH NaN object per Arrow batch, so
    un-normalized dict lookups miss and a null-keyed group accretes one
    accumulator per batch instead of one per partition (results stay
    correct — the merge re-reduces — but state and shuffle inflate by
    the batch count)."""
    gk = g if isinstance(g, tuple) else (g,)
    return tuple(None if pd.isna(v) else v for v in gk)


def _hash_column(col: str, method: str):
    if method == "xxhash64":
        return F.xxhash64(F.col(col))
    raise ValueError(f"unknown JVM hash method {method!r}")


def _partial_schema(key_fields: list[StructField]) -> StructType:
    return StructType(
        key_fields
        + [
            StructField(_PID_COL, LongType(), False),
            StructField(_SKETCH_COL, BinaryType(), False),
            StructField(_ROWS_COL, LongType(), False),
        ]
    )


def _make_partial_fn(
    keys: Sequence[str],
    config: HLLConfig,
    hash_in_python: bool,
    memory_budget_bytes: int = 256 << 20,
):
    """mapInPandas function: stream Arrow batches, keep one register file
    per key for the whole partition, emit at iterator exhaustion.

    Spill-aware: when the partial state (m bytes per live key) exceeds
    ``memory_budget_bytes`` — possible with very high-cardinality group
    keys — the accumulated partials are flushed as output rows and the
    dict reset. Duplicated (partition, key) partial rows are harmless:
    the merge stage max-reduces them (union monoid)."""

    m = config.m
    max_keys = max(1, memory_budget_bytes // m)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        regs: dict[tuple, np.ndarray] = {}
        rows: dict[tuple, int] = {}

        def flush() -> pd.DataFrame:
            out = {}
            for i, k in enumerate(keys):
                out[k] = [gk[i] for gk in regs]
            out[_PID_COL] = [pid] * len(regs)
            out[_SKETCH_COL] = [r.tobytes() for r in regs.values()]
            out[_ROWS_COL] = [rows[gk] for gk in regs]
            regs.clear()
            rows.clear()
            return pd.DataFrame(out)

        for pdf in batches:
            if hash_in_python:
                col = pdf[_HASH_COL]
                if col.dtype == object or str(col.dtype).startswith("str"):
                    h = murmur3_64_bytes(col)
                else:
                    h = murmur3_64_uint64(to_uint64(col.to_numpy()))
            else:
                h = to_uint64(pdf[_HASH_COL].to_numpy())
            if not keys:
                r = regs.get(())
                if r is None:
                    r = regs[()] = np.zeros(m, dtype=np.uint8)
                    rows[()] = 0
                update_registers(r, h, config)
                rows[()] += len(pdf)
                continue
            groups = pdf.groupby(list(keys), sort=False, dropna=False).indices
            for gkey, idx in groups.items():
                gk = norm_group_key(gkey)
                r = regs.get(gk)
                if r is None:
                    r = regs[gk] = np.zeros(m, dtype=np.uint8)
                    rows[gk] = 0
                update_registers(r, h[idx], config)
                rows[gk] += len(idx)
            if len(regs) > max_keys:
                yield flush()
        if regs:
            yield flush()

    return fn


def _zero_partial_seed(spark, config: HLLConfig, schema: StructType) -> DataFrame:
    """One zero-state partial row, built ON AN EXECUTOR via
    spark.range(1) (Spark skips Python workers entirely for empty
    relations, so a partial-fn-side fallback never runs; and a
    driver-side literal would embed m bytes in the plan). Union it into
    the global (no-keys) partials so an empty/all-null input still
    yields one row with ndv 0 — countDistinct returns 0, not no rows."""
    m = config.m

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                _PID_COL: [-1],
                _SKETCH_COL: [np.zeros(m, dtype=np.uint8).tobytes()],
                _ROWS_COL: [0],
            }
        )

    return spark.range(1).mapInPandas(fn, schema=schema)


def keyed_carry_stream(partials, group_cols, schema, *, prepare, fold, finish):
    """The sorted-stream-with-carry skeleton shared by the batched keyed
    merges of serialized sketches: the python engine's register merge
    and tree-fanin intermediate, the keyed :func:`hll_rollup` (which
    ``hll_sketch_explicit`` and ``merge_sketch_tables`` go through) and
    the companion-sketch merge in sketch_agg — ONE implementation of the
    subtle part: null-safe group boundaries, per-segment folding, the
    cross-Arrow-batch carry, the end-of-iterator flush. (The r3
    NaN!=NaN null-group-split bug lived exactly in this skeleton.) The
    sql engine needs none of it: Catalyst forms its groups.

    ``prepare(pdf) -> batch_ctx`` runs once per Arrow batch (vectorized
    extraction); ``fold(state_or_None, batch_ctx, start, end) -> state``
    folds one contiguous same-key run; ``finish(key_tuple, state) ->
    row tuple`` emits a completed group. NaN/NaT keys surface as None
    in the key tuple (null-group convention shared with hll_sketch)."""
    out_cols = [f.name for f in schema.fields]
    group_cols = list(group_cols)
    sorted_partials = partials.repartition(*group_cols).sortWithinPartitions(
        *group_cols
    )

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur: tuple | None = None
        state = None
        for pdf in batches:
            if not len(pdf):
                continue
            kcols = [pdf[k] for k in group_cols]
            change = _null_safe_change_mask(kcols)
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], len(pdf))
            ctx = prepare(pdf)
            done = []
            for j in range(len(starts)):
                key = _key_tuple(kcols, int(starts[j]))
                if cur is not None and key != cur:
                    done.append(finish(cur, state))
                    state = None
                cur = key
                state = fold(state, ctx, int(starts[j]), int(ends[j]))
            if done:
                yield pd.DataFrame(done, columns=out_cols)
        if cur is not None:
            yield pd.DataFrame([finish(cur, state)], columns=out_cols)

    return sorted_partials.mapInPandas(stream, schema=schema)


def _stream_keyed_merge(
    partials: DataFrame,
    group_cols: Sequence[str],
    *,
    n_emit: int,
    schema: StructType,
    config: HLLConfig,
    pack: bool,
    keep_sketch: bool,
    estimate: bool,
) -> DataFrame:
    """Keyed register-blob merge as a batched stream — one python call
    per Arrow batch instead of one applyInPandas call per group (r4;
    measured 8.6x on the companion twin at 200k groups). Per-run
    register maxima reduce VECTORIZED via np.maximum.reduceat over the
    stacked blob matrix, so per-key python work is one tuple append.
    ``n_emit`` keeps only the first n group columns in the output (the
    tree-fanin intermediate groups on keys + partition salt but emits
    keys only)."""

    def prepare(pdf):
        stacked = np.frombuffer(
            b"".join(pdf[_SKETCH_COL].tolist()), dtype=np.uint8
        ).reshape(len(pdf), config.m)
        return stacked, pdf[_ROWS_COL].to_numpy()

    def fold(state, ctx, start, end):
        stacked, rseen = ctx
        seg = np.maximum.reduce(stacked[start:end])
        rows = int(rseen[start:end].sum())
        if state is None:
            return seg.copy(), rows
        acc, rows_acc = state
        np.maximum(acc, seg, out=acc)
        return acc, rows_acc + rows

    def finish(key, state):
        acc, rows_acc = state
        row = list(key[:n_emit])
        if keep_sketch:
            if pack:
                s = HLL(config, explicit_threshold=0, sparse_on=False)
                s._regs = acc
                row.append(s.to_bytes())
            else:
                row.append(acc.tobytes())
        if estimate:
            row.append(estimate_from_registers(acc, config))
        row.append(rows_acc)
        return tuple(row)

    return keyed_carry_stream(
        partials, group_cols, schema, prepare=prepare, fold=fold, finish=finish
    )


def _make_merge_fn(
    keys: Sequence[str],
    config: HLLConfig,
    *,
    estimate: bool,
    keep_sketch: bool,
    pack: bool,
):
    """applyInPandas function: max-reduce raw register blobs per group."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        stacked = np.frombuffer(
            b"".join(pdf[_SKETCH_COL].tolist()), dtype=np.uint8
        ).reshape(len(pdf), config.m)
        merged = np.maximum.reduce(stacked)
        out = {k: [pdf[k].iloc[0]] for k in keys}
        if keep_sketch:
            if pack:
                s = HLL(config, explicit_threshold=0, sparse_on=False)
                s._regs = merged
                out[_SKETCH_COL] = [s.to_bytes()]
            else:
                out[_SKETCH_COL] = [merged.tobytes()]
        if estimate:
            out["ndv"] = [estimate_from_registers(merged, config)]
        out[_ROWS_COL] = [int(pdf[_ROWS_COL].sum())]
        return pd.DataFrame(out)

    return fn


def _merge_schema(
    df: DataFrame,
    keys: Sequence[str],
    *,
    estimate: bool,
    keep_sketch: bool,
) -> StructType:
    fields = [df.schema[k] for k in keys]
    if keep_sketch:
        fields.append(StructField(_SKETCH_COL, BinaryType(), False))
    if estimate:
        fields.append(StructField("ndv", DoubleType(), False))
    fields.append(StructField(_ROWS_COL, LongType(), False))
    return StructType(fields)


def hll_sketch(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
    hash_method: str = "xxhash64",
    tree_fanin: int | None = None,
    estimate: bool = True,
    keep_sketch: bool = True,
    memory_budget_bytes: int = 256 << 20,
    engine: str = "auto",
    _count_rows: bool = True,
) -> DataFrame:
    """Sketch ``value_col`` per group. Returns one row per group with a
    spec-encoded ``sketch`` column, an ``ndv`` estimate and ``rows_seen``.

    ``hash_method``: 'xxhash64' (JVM, default), 'murmur3' (AK
    convention, numpy-vectorized in the worker; only valid for integral
    value columns), or 'raw' — ``value_col`` already holds 64-bit hashed
    values and is sketched as-is (the reference's addRaw contract,
    src/hll.js:262-268, at DataFrame level; for interop with
    AK-ecosystem producers that hash upstream).

    ``engine``: 'sql' computes registers inside Catalyst (hll_sketch_sql
    — fastest, default for xxhash64); 'python' uses the mapInPandas
    partial harness (required for murmur3, supports tree_fanin and the
    memory budget). Both build dense register files and produce
    bit-identical sketches. 'explicit' builds TRUE explicit-mode
    sketches (exact hash sets below the auto threshold — the exactness
    tier, see hll_sketch_explicit). 'auto' picks by hash_method.

    Group keys with ``engine='python'`` (and in :func:`hll_rollup`):
    keys cross the Arrow boundary through pandas, where NaN and NULL
    conflate (a NaN-keyed group merges into the null group) and a
    nullable bigint key becomes float64 (keys above 2**53 can merge) —
    cast such keys to string upstream. The sql engine keeps keys as
    Arrow columns and returns exactly Catalyst's groups.

    High-cardinality group keys: both engines carry O(keys x m) state —
    the sql engine in Catalyst's spill-capable HashAggregate, the python
    engine in a byte-budgeted dict that flushes. Prefer a smaller log2m
    when sketching per-key over millions of keys (the error bound is per
    sketch, and tiny groups saturate far below m registers anyway).
    """
    config = HLLConfig(log2m, regwidth)
    keys = list(by)

    if engine == "auto":
        engine = "sql" if hash_method in ("xxhash64", "raw") else "python"
    if engine == "explicit":
        # true explicit-mode sets (the exactness tier) — see
        # hll_sketch_explicit
        return hll_sketch_explicit(
            df,
            value_col,
            by,
            log2m=log2m,
            regwidth=regwidth,
            hash_method=hash_method,
            estimate=estimate,
            keep_sketch=keep_sketch,
        )
    if engine == "sql":
        if hash_method == "raw":
            # reference addRaw parity at DataFrame level: value_col
            # already holds 64-bit hashes (e.g. from an AK-ecosystem
            # producer); sketch them directly, no re-hash. Filter AFTER
            # the cast: a non-castable value (string garbage) yields a
            # NULL hash that would otherwise crash register assembly
            # with an opaque numpy IndexError
            return hll_sketch_sql(
                df.select(
                    *keys, F.col(value_col).cast("long").alias(value_col)
                ).filter(F.col(value_col).isNotNull()),
                value_col,
                by,
                log2m=log2m,
                regwidth=regwidth,
                estimate=estimate,
                keep_sketch=keep_sketch,
                _prehashed=True,
                _count_rows=_count_rows,
            )
        if hash_method != "xxhash64":
            raise ValueError("engine='sql' supports only xxhash64 or raw")
        return hll_sketch_sql(
            df,
            value_col,
            by,
            log2m=log2m,
            regwidth=regwidth,
            estimate=estimate,
            keep_sketch=keep_sketch,
            _count_rows=_count_rows,
        )

    # NULL values are excluded, matching countDistinct semantics (a NULL
    # would otherwise hash to a constant and count as one spurious value)
    df = df.filter(F.col(value_col).isNotNull())

    hash_in_python = hash_method == "murmur3"
    if hash_in_python:
        # AK murmur3 convention, vectorized in the Python worker: integral
        # columns hash as their 8-byte little-endian form; strings/binary
        # hash as UTF-8 bytes (murmur3_64_bytes, pyarrow-backed). The raw
        # column crosses the Arrow boundary — the price of hash
        # compatibility with externally-built AK-ecosystem sketches.
        dtype = dict(df.dtypes)[value_col]
        col = F.col(value_col)
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            col = col.cast("long")
        elif dtype not in ("string", "binary"):
            # the AK convention hashes 8-byte ints or UTF-8 bytes; a
            # float/decimal column would silently truncate through the
            # int64 conversion (1.1 and 1.9 hash identically) — fail
            # fast instead of estimating a wrong NDV
            raise ValueError(
                f"hash_method='murmur3' supports integral/string/binary "
                f"value columns, got {dtype} — cast explicitly first"
            )
        hashed = df.select(*keys, col.alias(_HASH_COL))
    elif hash_method == "raw":
        # filter after the cast: non-castable values yield NULL hashes
        hashed = df.select(
            *keys, F.col(value_col).cast("long").alias(_HASH_COL)
        ).filter(F.col(_HASH_COL).isNotNull())
    else:
        hashed = df.select(*keys, _hash_column(value_col, hash_method).alias(_HASH_COL))

    key_fields = [hashed.schema[k] for k in keys]
    partials = hashed.mapInPandas(
        _make_partial_fn(keys, config, hash_in_python, memory_budget_bytes),
        schema=_partial_schema(key_fields),
    )
    if not keys:
        partials = partials.unionByName(
            _zero_partial_seed(df.sparkSession, config, _partial_schema([]))
        )

    if tree_fanin is None:
        # one intermediate merge level bounds the final task's fan-in when
        # the job has many input partitions (100 TB => ~10^5 partitions).
        # The partial count equals hashed's partition count — NOT
        # defaultParallelism (cores), which on a small cluster reading a
        # many-split table would leave the guard off in exactly the case
        # it exists for. The one-time plan analysis per sketch call is
        # the price of getting the bound right; callers on a hot path
        # can pass tree_fanin explicitly to skip it.
        n_parts = hashed.rdd.getNumPartitions()
        tree_fanin = 64 if n_parts > 256 else 0

    if tree_fanin:
        salted = partials.withColumn(
            _PID_COL, F.pmod(F.col(_PID_COL), F.lit(tree_fanin))
        )
        inter_schema = StructType(
            key_fields
            + [
                StructField(_SKETCH_COL, BinaryType(), False),
                StructField(_ROWS_COL, LongType(), False),
            ]
        )
        partials = _stream_keyed_merge(
            salted,
            keys + [_PID_COL],
            n_emit=len(keys),
            schema=inter_schema,
            config=config,
            pack=False,
            keep_sketch=True,
            estimate=False,
        )

    schema = _merge_schema(
        hashed, keys, estimate=estimate, keep_sketch=keep_sketch
    )
    if keys:
        return _stream_keyed_merge(
            partials,
            keys,
            n_emit=len(keys),
            schema=schema,
            config=config,
            pack=True,
            keep_sketch=keep_sketch,
            estimate=estimate,
        )
    merge_fn = _make_merge_fn(
        keys, config, estimate=estimate, keep_sketch=keep_sketch, pack=True
    )
    return partials.groupBy(F.lit(1).alias("__g")).applyInPandas(
        lambda pdf: merge_fn(pdf), schema=schema
    )


def hll_sketch_explicit(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
    hash_method: str = "xxhash64",
    estimate: bool = True,
    keep_sketch: bool = True,
) -> DataFrame:
    """TRUE explicit-mode sketching: each partial is a real :class:`HLL`
    object whose EXPLICIT set holds the exact 64-bit hashes (spec
    encoding preserves the type across the shuffle), merged per key by
    set union in :func:`hll_rollup`. While every per-key distinct count
    stays under the auto explicit threshold, the estimate is an exact
    count of distinct hashes — equal to countDistinct absent a 64-bit
    hash collision. This is the oracle tier: use it wherever a query
    claims exactness. (The dense engines' estimates at m >> n are merely
    NEAR-exact — linear counting lands within ±1 and can flip a
    floor/cast, which is why exact claims must not ride on them.)

    State per key is bounded by the explicit threshold (8 bytes x
    threshold before promotion); past the threshold the sketch promotes
    and estimates degrade gracefully to the dense tier's accuracy.
    Unlike the python engine there is no memory-budget flush across
    keys: with very high-cardinality ``by`` keys prefer the dense
    engines (fixed bytes per key + spill-aware flushing) — the explicit
    tier exists for exactness at modest key counts, not 100 TB group
    fan-out."""
    config = HLLConfig(log2m, regwidth)
    keys = list(by)
    df = df.filter(F.col(value_col).isNotNull())
    if hash_method == "raw":
        # filter after the cast: non-castable values yield NULL hashes
        hashed = df.select(
            *keys, F.col(value_col).cast("long").alias(_HASH_COL)
        ).filter(F.col(_HASH_COL).isNotNull())
        hash_in_python = False
    elif hash_method == "murmur3":
        dtype = dict(df.dtypes)[value_col]
        col = F.col(value_col)
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            col = col.cast("long")
        elif dtype not in ("string", "binary"):
            # the AK convention hashes 8-byte ints or UTF-8 bytes; a
            # float/decimal column would silently truncate through the
            # int64 conversion (1.1 and 1.9 hash identically) — fail
            # fast instead of estimating a wrong NDV
            raise ValueError(
                f"hash_method='murmur3' supports integral/string/binary "
                f"value columns, got {dtype} — cast explicitly first"
            )
        hashed = df.select(*keys, col.alias(_HASH_COL))
        hash_in_python = True
    else:
        hashed = df.select(*keys, _hash_column(value_col, hash_method).alias(_HASH_COL))
        hash_in_python = False

    key_fields = [hashed.schema[k] for k in keys]
    schema = StructType(
        key_fields
        + [
            StructField(_SKETCH_COL, BinaryType(), False),
            StructField(_ROWS_COL, LongType(), False),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk: dict[tuple, HLL] = {}
        rows: dict[tuple, int] = {}
        for pdf in batches:
            if hash_in_python:
                col = pdf[_HASH_COL]
                if col.dtype == object or str(col.dtype).startswith("str"):
                    h = murmur3_64_bytes(col)
                else:
                    h = murmur3_64_uint64(to_uint64(col.to_numpy()))
            else:
                h = to_uint64(pdf[_HASH_COL].to_numpy())
            if not keys:
                s = sk.get(())
                if s is None:
                    s = sk[()] = HLL(config)
                    rows[()] = 0
                s.add_raw64(h)
                rows[()] += len(pdf)
                continue
            groups = pdf.groupby(list(keys), sort=False, dropna=False).indices
            for gkey, idx in groups.items():
                gk = norm_group_key(gkey)
                s = sk.get(gk)
                if s is None:
                    s = sk[gk] = HLL(config)
                    rows[gk] = 0
                s.add_raw64(h[idx])
                rows[gk] += len(idx)
        if sk:
            out = {k: [gk[i] for gk in sk] for i, k in enumerate(keys)}
            out[_SKETCH_COL] = [s.to_bytes() for s in sk.values()]
            out[_ROWS_COL] = [rows[gk] for gk in sk]
            yield pd.DataFrame(out)

    partials = hashed.mapInPandas(fn, schema=schema)
    if not keys:
        # empty-input seed (see _zero_partial_seed): one EMPTY spec
        # sketch built on an executor; union identity for real inputs
        def seed_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for _ in batches:
                pass
            yield pd.DataFrame(
                {_SKETCH_COL: [HLL(config).to_bytes()], _ROWS_COL: [0]}
            )

        partials = partials.unionByName(
            df.sparkSession.range(1).mapInPandas(seed_fn, schema=schema)
        )
    out = hll_rollup(partials, keys, estimate=estimate, rows_col=_ROWS_COL)
    if not keep_sketch:
        out = out.drop(_SKETCH_COL)
    return out


def _assemble_kernel(keys, config, schema, *, estimate, keep_sketch):
    """mapInArrow kernel for hll_sketch_sql: each input row is one group
    — its key columns, the ``__regs`` list of packed ``(idx << 8) | val``
    registers and ``rows_seen`` — and becomes one output row. Key columns
    pass through as Arrow arrays (never pandas, so NULL, NaN and int64
    keys above 2**53 stay exactly the groups Catalyst formed).

    Memory is O(m) per group: one register file is reused for every
    group, and output goes out in chunks of about 4 MB of registers, so
    neither side ever holds a (batch rows x m) matrix. Input batches are
    capped by ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MB by
    default)."""
    m = config.m
    names = [f.name for f in schema.fields]
    chunk = max(1, (4 << 20) // m)

    def hll_assemble(batches):
        import pyarrow as pa

        sk = HLL(config, explicit_threshold=0, sparse_on=False)
        regs = sk._regs
        for batch in batches:
            lists = batch.column(_PACKED_COL)
            offs = lists.offsets.to_numpy()
            packed = lists.values.to_numpy()
            for lo in range(0, batch.num_rows, chunk):
                part = batch.slice(lo, chunk)
                sketches, ndvs = [], []
                for i in range(lo, lo + part.num_rows):
                    p = packed[offs[i] : offs[i + 1]]
                    regs.fill(0)
                    # (key, idx) rows are unique after the register agg
                    regs[p >> 8] = p & 0xFF
                    if keep_sketch:
                        sketches.append(sk.to_bytes())
                    if estimate:
                        ndvs.append(estimate_from_registers(regs, config))
                cols = [part.column(k) for k in keys]
                if keep_sketch:
                    cols.append(pa.array(sketches, pa.binary()))
                if estimate:
                    cols.append(pa.array(ndvs, pa.float64()))
                cols.append(part.column(_ROWS_COL))
                yield pa.RecordBatch.from_arrays(cols, names=names)

    return hll_assemble


def hll_sketch_sql(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
    estimate: bool = True,
    keep_sketch: bool = True,
    _prehashed: bool = False,
    _count_rows: bool = True,
) -> DataFrame:
    """All-JVM variant of hll_sketch: the register file is computed by
    Catalyst itself as ``groupBy(keys, register_index).agg(max(rho))``
    with rho = 1 + ctz(h >> log2m) expressed via ``bit_count`` — the
    whole per-row path stays inside whole-stage codegen and the partial
    HashAggregate collapses each partition to <= m rows per key before
    the shuffle. A second aggregate packs each group's registers into
    one list, so Python sees one row per group: one Arrow map
    (``hll_assemble``) places the registers, encodes and estimates.

    Trade-off vs the mapInPandas harness: no Arrow transfer of raw
    hashes (wins when rows >> m x partitions), but the shuffles carry
    up to m register rows per (key, partition) instead of one ~m-byte
    blob. Results are bit-identical between the two paths (tested).

    Keyed and unkeyed calls share the one path: the global
    ``groupBy()`` returns exactly one row even on empty input (an empty
    list, so ndv 0 — countDistinct semantics).

    ``_prehashed``: ``value_col`` already holds the xxhash64 value (used
    by hll_ndv_multi's one-scan long form; caller filtered nulls).
    """
    config = HLLConfig(log2m, regwidth)
    keys = list(by)

    # UNKEYED ONLY: the partial HashAggregate emits m rows per PARTITION
    # before the only data shuffle, so the map-task count is a direct
    # multiplier on shuffle volume while per-task partial state is
    # EXACTLY m registers (~8 KB) no matter how many splits a task
    # absorbs — coalescing a batch input that arrives in more partitions
    # than cores down to defaultParallelism is therefore a pure win
    # (narrow, no shuffle; merge-order independence keeps the sketch
    # bit-identical). Measured: 24M-row webtext cache, 128 -> 32 tasks,
    # 1.63 -> 0.81 s; spark-submit scan at 16 MB splits, ndv leg flat at
    # local[8] (6.28 vs 6.31 s) and 4.97 -> 3.05 s at local[32], ndv
    # double bit-identical in every run. The KEYED path deliberately
    # keeps the input partitioning: per-task partial state there is
    # (keys-in-task x m), and merging key-clustered splits multiplies it
    # — measured 15.8 -> 26.0 s on the (lang, day) grouped leg at
    # local[8] (time-clustered scan, ~80 splits/task) before this rule
    # was restricted to the unkeyed case. A no-op whenever the input
    # already arrives in <= cores partitions (every _t_auto/pristine
    # source, any AQE-coalesced shuffle output).
    if not keys and not df.isStreaming:
        _cores = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() > _cores:
            df = df.coalesce(_cores)

    if _prehashed:
        h = F.col(value_col)
    else:
        # countDistinct semantics
        df = df.filter(F.col(value_col).isNotNull())
        h = F.xxhash64(F.col(value_col))
    idx = h.bitwiseAND(F.lit(config.register_index_mask)).alias("__idx")
    w = F.shiftrightunsigned(h, config.log2m)
    # ctz(w) = bit_count(~w & (w - 1)); rho = min(maxreg, ctz + 1), 0 if w=0
    ctz = F.bit_count(F.bitwise_not(w).bitwiseAND(w - F.lit(1)))
    rho = (
        F.when(w == 0, F.lit(0))
        .otherwise(F.least(F.lit(config.max_register_value), ctz + F.lit(1)))
        .alias("__rho")
    )
    # ``_count_rows=False`` (the hll_ndv fast path, r7): callers that
    # discard rows_seen skip the second aggregation buffer — every input
    # row otherwise updates a count slot beside the max slot in the
    # partial HashAggregate, pure overhead when only ndv survives
    aggs = [F.max("__rho").alias("__val")]
    rows = F.lit(0).cast("long")
    if _count_rows:
        aggs.append(F.count(F.lit(1)).alias("__n"))
        # a global aggregate over no rows sums to NULL
        rows = F.coalesce(F.sum("__n"), F.lit(0).cast("long"))
    # register values fit 8 bits (regwidth <= 8): one long per register
    packed = F.collect_list(F.shiftleft("__idx", 8).bitwiseOR(F.col("__val")))
    per_group = (
        df.select(*keys, idx, rho)
        .groupBy(*keys, "__idx")
        .agg(*aggs)
        .groupBy(*keys)
        .agg(packed.alias(_PACKED_COL), rows.alias(_ROWS_COL))
    )

    schema = _merge_schema(df, keys, estimate=estimate, keep_sketch=keep_sketch)
    kernel = _assemble_kernel(
        keys, config, schema, estimate=estimate, keep_sketch=keep_sketch
    )
    return per_group.mapInArrow(kernel, schema=schema)


def hll_ndv(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
    hash_method: str = "xxhash64",
    tree_fanin: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Approximate NDV(value_col) per group: (keys..., ndv double)."""
    out = hll_sketch(
        df,
        value_col,
        by,
        log2m=log2m,
        regwidth=regwidth,
        hash_method=hash_method,
        tree_fanin=tree_fanin,
        estimate=True,
        keep_sketch=False,
        engine=engine,
        # ndv drops rows_seen — skip its aggregation buffer (sql engine)
        _count_rows=False,
    )
    return out.select(*by, "ndv")


def hll_ndv_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
) -> DataFrame:
    """Approximate NDV of SEVERAL columns in ONE table scan. At 100 TB
    the scan dominates, so profiling a table's url/domain/text NDVs as
    separate hll_ndv calls pays the scan once per column; here each row
    is hashed once per column JVM-side, exploded into (column, hash)
    long form (narrow: a tag and 8 bytes — never the row), and sketched
    with the column tag as an extra group key. Estimates are
    bit-identical to per-column hll_ndv (same hashes, same registers;
    tested). Returns (keys..., column, ndv)."""
    keys = list(by)
    structs = [
        F.struct(
            F.lit(c).alias("__col"),
            F.xxhash64(F.col(c)).alias("__h"),
            F.col(c).isNull().alias("__isnull"),
        )
        for c in value_cols
    ]
    tagged = (
        df.select(*keys, F.explode(F.array(*structs)).alias("__s"))
        # per-column null filter AFTER the explode (xxhash64(NULL) is the
        # seed, not NULL — it must not count as a value)
        .filter(~F.col("__s.__isnull"))
        .select(
            *keys,
            F.col("__s.__col").alias("__col"),
            F.col("__s.__h").alias("__h"),
        )
    )
    out = hll_sketch_sql(
        tagged,
        "__h",
        keys + ["__col"],
        log2m=log2m,
        regwidth=regwidth,
        estimate=True,
        keep_sketch=False,
        _prehashed=True,
    )
    return out.select(*keys, F.col("__col").alias("column"), "ndv")


def hll_rollup(
    df: DataFrame,
    by: Sequence[str],
    sketch_col: str = _SKETCH_COL,
    *,
    estimate: bool = True,
    rows_col: str | None = None,
) -> DataFrame:
    """Re-aggregate a persisted sketch table to a coarser grain without
    touching raw data — the reference's ``union()`` at table scale
    (src/hll.js:328-349). Input sketches are spec-encoded bytes and may
    mix EXPLICIT/SPARSE/FULL and even shapes (auto-fold applies).
    ``rows_col`` (e.g. ``rows_seen``) is summed per group in the same
    fold and emitted last."""
    keys = list(by)
    carried = [rows_col] if rows_col else []  # selected and emitted

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: HLL | None = None
        for blob in pdf[sketch_col]:
            s = HLL.from_bytes(bytes(blob))
            acc = s if acc is None else acc.union(s)
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out[_SKETCH_COL] = [acc.to_bytes()]
        if estimate:
            out["ndv"] = [acc.algorithm_cardinality()]
        if rows_col:
            out[rows_col] = [int(pdf[rows_col].sum())]
        return pd.DataFrame(out)

    fields = [df.schema[k] for k in keys] + [
        StructField(_SKETCH_COL, BinaryType(), False)
    ]
    if estimate:
        fields.append(StructField("ndv", DoubleType(), False))
    fields += [StructField(c, LongType(), False) for c in carried]
    if not keys:
        return df.groupBy(*keys).applyInPandas(fn, schema=StructType(fields))

    # keyed rollup: stream whole Arrow batches through one python call
    # (hash repartition + in-partition sort, union with carry across
    # batch boundaries) instead of one applyInPandas call per group —
    # per-group call overhead dominates at high rollup-key cardinality.
    # Shares the carry skeleton with the register/companion merges (r4).
    def prepare(pdf):
        rows = pdf[rows_col].to_numpy() if rows_col else None
        return pdf[sketch_col].to_numpy(), rows

    def fold(state, ctx, start, end):
        blobs, rows = ctx
        acc, n = state if state is not None else (None, 0)
        for i in range(start, end):
            s = HLL.from_bytes(bytes(blobs[i]))
            acc = s if acc is None else acc.union(s)
        if rows is not None:
            n += int(rows[start:end].sum())
        return acc, n

    def finish(key, state):
        acc, n = state
        row = list(key) + [acc.to_bytes()]
        if estimate:
            row.append(acc.algorithm_cardinality())
        if rows_col:
            row.append(n)
        return tuple(row)

    return keyed_carry_stream(
        df.select(*keys, sketch_col, *carried),
        keys,
        StructType(fields),
        prepare=prepare,
        fold=fold,
        finish=finish,
    )
