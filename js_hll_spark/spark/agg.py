"""Mergeable HLL aggregation over DataFrames — one dense register path.

Why not a GROUPED_AGG pandas UDF straight on raw rows: that shuffles the
*raw rows* to their groups — fatal at 10^12 rows (SURVEY.md §4.3-1).
Every dense sketch reduces each partition before the only raw-data
shuffle, so a hot key ('en' at 60%) costs at most m register rows (or
one packed register list) per partition, never its raw rows.

**Producers.** Each partition becomes at most one packed register list
per key, ``(idx << 8) | val`` per nonzero register:

- xxhash64 and ``raw`` hashes: Catalyst hashes, computes rho and
  aggregates ``groupBy(keys, idx).agg(max(rho))`` in codegen;
- the AK murmur3 hash: one ``mapInArrow`` kernel (``murmur3_partial``)
  hashes each Arrow batch with the vectorized murmur3 and max-reduces it
  into one register file per key.

**Assembly.** ``groupBy(keys)`` gathers each group's registers into ONE
row, and one ``mapInArrow`` kernel (``hll_assemble``) places them,
encodes the sketch and estimates: one Python row per group, keys kept
as Arrow columns. Union is a commutative, associative, idempotent max
(reference src/hll.js:345-346), so duplicate partials merge losslessly.

``engine='explicit'`` (:func:`hll_sketch_explicit`) is the exactness
tier: true EXPLICIT-mode sketches merged by :func:`hll_rollup`.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
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
_ROWS_COL = "rows_seen"
_PACKED_COL = "__regs"

# Byte bound on one murmur3_partial task's register files (m bytes per
# cached key). Past it the task emits its partials early; the groupBy in
# front of hll_assemble merges the duplicates.
_PARTIAL_CACHE_BYTES = 32 << 20


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


def keyed_carry_stream(partials, group_cols, schema, *, prepare, fold, finish):
    """The sorted-stream-with-carry skeleton shared by the batched keyed
    merges of serialized sketches: the keyed :func:`hll_rollup` (which
    ``hll_sketch_explicit`` and ``merge_sketch_tables`` go through) and
    the companion-sketch merge in sketch_agg — ONE implementation of the
    subtle part: null-safe group boundaries, per-segment folding, the
    cross-Arrow-batch carry, the end-of-iterator flush. (The r3
    NaN!=NaN null-group-split bug lived exactly in this skeleton.) The
    dense path needs none of it: Catalyst forms its groups.

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
    estimate: bool = True,
    keep_sketch: bool = True,
    engine: str = "auto",
    _count_rows: bool = True,
) -> DataFrame:
    """Sketch ``value_col`` per group. Returns one row per group with a
    spec-encoded ``sketch`` column, an ``ndv`` estimate and ``rows_seen``.

    ``hash_method``: 'xxhash64' (JVM, default), 'murmur3' (the AK
    convention, vectorized in one Arrow map; integral, string or binary
    value columns only), or 'raw' — ``value_col`` already holds 64-bit
    hashed values and is sketched as-is (the reference's addRaw
    contract, src/hll.js:262-268, at DataFrame level; for interop with
    AK-ecosystem producers that hash upstream).

    ``engine``: 'auto' and 'sql' build dense register files through the
    one path of :func:`hll_sketch_sql` for every hash method. 'explicit'
    builds TRUE explicit-mode sketches (exact hash sets below the auto
    threshold — the exactness tier, see :func:`hll_sketch_explicit`).
    Any other value raises ``ValueError``.

    Group keys: the dense path keeps keys as Arrow columns and returns
    exactly Catalyst's groups. ``engine='explicit'`` and
    :func:`hll_rollup` move keys through pandas, where NaN and NULL
    conflate (a NaN-keyed group merges into the null group) and a
    nullable bigint key becomes float64 (keys above 2**53 can merge) —
    cast such keys to string upstream there.

    Memory: per partition the dense path holds O(keys x m) register
    state — in Catalyst's spill-capable HashAggregate, or for murmur3 in
    a register-file cache that is emitted early past a fixed byte bound.
    ``groupBy(keys)`` then gathers each group's registers into one row:
    for xxhash64/raw at most m packed longs, for murmur3 up to
    (map partitions holding the group) x m, e.g. 8 MB at 128 partitions
    and log2m 13. Prefer a smaller log2m when sketching per key over
    millions of keys (the error bound is per sketch, and tiny groups
    saturate far below m registers anyway).
    """
    if engine == "explicit":
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
    if engine not in ("auto", "sql"):
        raise ValueError(
            f"unknown engine {engine!r}: use 'auto', 'sql' or 'explicit'"
        )
    return hll_sketch_sql(
        df,
        value_col,
        by,
        log2m=log2m,
        regwidth=regwidth,
        hash_method=hash_method,
        estimate=estimate,
        keep_sketch=keep_sketch,
        _count_rows=_count_rows,
    )


def _murmur3_value(df: DataFrame, value_col: str) -> Column:
    """``value_col`` as the AK murmur3 convention hashes it: integral
    columns as 8-byte little-endian longs, strings as UTF-8 bytes,
    binary as is."""
    dtype = dict(df.dtypes)[value_col]
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return F.col(value_col).cast("long")
    if dtype in ("string", "binary"):
        return F.col(value_col)
    # a float/decimal column would silently truncate through the int64
    # conversion (1.1 and 1.9 hash identically) — fail fast instead of
    # estimating a wrong NDV
    raise ValueError(
        f"hash_method='murmur3' supports integral/string/binary "
        f"value columns, got {dtype} — cast explicitly first"
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
    There is no memory-bounded flush across keys: with very
    high-cardinality ``by`` keys prefer the dense path (fixed bytes per
    key, spill-capable aggregation) — the explicit tier exists for
    exactness at modest key counts, not 100 TB group fan-out."""
    config = HLLConfig(log2m, regwidth)
    keys = list(by)
    df = df.filter(F.col(value_col).isNotNull())
    if hash_method == "raw":
        h = F.col(value_col).cast("long")
    elif hash_method == "murmur3":
        h = _murmur3_value(df, value_col)
    elif hash_method == "xxhash64":
        h = F.xxhash64(F.col(value_col))
    else:
        raise ValueError(f"unknown hash_method {hash_method!r}")
    # filter after the cast: non-castable raw values yield NULL hashes
    hashed = df.select(*keys, h.alias(_HASH_COL)).filter(F.col(_HASH_COL).isNotNull())
    hash_in_python = hash_method == "murmur3"

    key_fields = [hashed.schema[k] for k in keys]
    schema = StructType(
        key_fields
        + [
            StructField(_SKETCH_COL, BinaryType(), False),
            StructField(_ROWS_COL, LongType(), False),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk: dict[tuple, list] = {}  # key -> [HLL, rows]
        for pdf in batches:
            col = pdf[_HASH_COL]
            if not hash_in_python:
                h = to_uint64(col.to_numpy())
            elif col.dtype == object or str(col.dtype).startswith("str"):
                h = murmur3_64_bytes(col)
            else:
                h = murmur3_64_uint64(to_uint64(col.to_numpy()))
            if keys:
                groups = pdf.groupby(keys, sort=False, dropna=False).indices
            else:
                groups = {(): np.arange(len(h))}
            for gkey, idx in groups.items():
                gk = norm_group_key(gkey)
                ent = sk.get(gk)
                if ent is None:
                    ent = sk[gk] = [HLL(config), 0]
                ent[0].add_raw64(h[idx])
                ent[1] += len(idx)
        if sk:
            out = {k: [gk[i] for gk in sk] for i, k in enumerate(keys)}
            out[_SKETCH_COL] = [s.to_bytes() for s, _ in sk.values()]
            out[_ROWS_COL] = [n for _, n in sk.values()]
            yield pd.DataFrame(out)

    partials = hashed.mapInPandas(fn, schema=schema)
    if not keys:
        # empty-input seed: one EMPTY spec sketch built on an executor
        # (Spark runs no Python worker for an empty relation, and a
        # driver-side literal would embed the sketch in the plan); the
        # union identity for real inputs, so an empty input still
        # yields one row with ndv 0
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


def _murmur3_partial_kernel(keys, config, schema):
    """mapInArrow kernel that produces hll_sketch_sql's packed registers
    for ``hash_method='murmur3'``: (keys..., value) rows in, one
    (keys..., ``__regs``, ``rows_seen``) row per key out when the
    partition ends — the nonzero registers packed as ``(idx << 8) | val``,
    the format hll_assemble reads.

    Each Arrow batch is hashed with the vectorized AK murmur3, sorted by
    the keys in Arrow and split into runs of equal keys (NULL equals
    NULL, NaN equals NaN); each run max-reduces into its key's register
    file. The dict of register files is only a cache keyed by the
    Python key tuple: a key whose lookup misses (a NaN) adds another
    entry and emits another partial row. Output keys are Arrow rows of
    the input, never the dict key. Past ``_PARTIAL_CACHE_BYTES`` of
    register files the kernel emits its rows early; output goes out in
    chunks of about 4 MB of packed registers."""
    from .sketch_agg import _run_starts

    m = config.m
    max_keys = max(1, _PARTIAL_CACHE_BYTES // m)
    sort_keys = [(k, "ascending") for k in keys]

    def murmur3_partial(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        cache: dict[tuple, list] = {}  # key -> [registers, rows]
        key_rows: list = []  # the cached keys' Arrow rows, in cache order

        def flush():
            if not cache:
                return
            ents = list(cache.values())
            kt = pa.Table.from_batches(key_rows).combine_chunks() if keys else None
            cache.clear()
            key_rows.clear()
            lo, parts, offs = 0, [], [0]
            for i, (r, _) in enumerate(ents):
                nz = np.flatnonzero(r)
                parts.append((nz << 8) | r[nz])
                offs.append(offs[-1] + nz.size)
                if offs[-1] < (1 << 19) and i + 1 < len(ents):
                    continue
                packed = pa.ListArray.from_arrays(
                    pa.array(offs, pa.int32()), pa.array(np.concatenate(parts))
                )
                rows = pa.array([n for _, n in ents[lo : i + 1]], pa.int64())
                cols = [kt.column(k).chunk(0).slice(lo, i + 1 - lo) for k in keys]
                yield pa.RecordBatch.from_arrays(
                    cols + [packed, rows], names=schema.names
                )
                lo, parts, offs = i + 1, [], [0]

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vals = batch.column(_HASH_COL)
            if pa.types.is_integer(vals.type):
                h = murmur3_64_uint64(to_uint64(vals.to_numpy()))
            else:
                h = murmur3_64_bytes(vals)
            kb, starts = batch.select(keys), np.zeros(1, dtype=np.int64)
            if keys:
                order = pc.sort_indices(batch, sort_keys=sort_keys, null_placement="at_end")
                kb, h = kb.take(order), h[order.to_numpy()]
                starts = _run_starts(kb.columns, None)
            for lo, hi in zip(starts, np.append(starts[1:], n)):
                key = tuple(c[lo].as_py() for c in kb.columns)
                ent = cache.get(key)
                if ent is None:
                    if len(cache) >= max_keys:
                        yield from flush()
                    ent = cache[key] = [np.zeros(m, dtype=np.uint8), 0]
                    key_rows.append(kb.slice(lo, 1))
                update_registers(ent[0], h[lo:hi], config)
                ent[1] += hi - lo
        yield from flush()

    return murmur3_partial


def _assemble_kernel(keys, config, schema, *, estimate, keep_sketch):
    """mapInArrow kernel for hll_sketch_sql: each input row is one group
    — its key columns, the ``__regs`` list of packed ``(idx << 8) | val``
    registers and ``rows_seen`` — and becomes one output row. A register
    index may repeat (murmur3 partials of several partitions); placement
    keeps the max. Key columns pass through as Arrow arrays (never
    pandas, so NULL, NaN and int64 keys above 2**53 stay exactly the
    groups Catalyst formed).

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
                    np.maximum.at(regs, p >> 8, p & 0xFF)
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
    hash_method: str = "xxhash64",
    estimate: bool = True,
    keep_sketch: bool = True,
    _count_rows: bool = True,
) -> DataFrame:
    """The dense register path of :func:`hll_sketch`, for every hash
    method. A producer reduces each partition to packed registers:

    - xxhash64 and 'raw': Catalyst computes the register file itself as
      ``groupBy(keys, register_index).agg(max(rho))`` with
      rho = 1 + ctz(h >> log2m) expressed via ``bit_count`` — the whole
      per-row path stays inside whole-stage codegen and the partial
      HashAggregate collapses each partition to <= m rows per key
      before the shuffle;
    - murmur3: one Arrow map (``murmur3_partial``) hashes and reduces
      each partition to one packed register list per key.

    ``groupBy(keys)`` then packs each group's registers into one list,
    so Python sees one row per group: one Arrow map (``hll_assemble``)
    places the registers, encodes and estimates. Keyed and unkeyed calls
    share the one path: the global ``groupBy()`` returns exactly one row
    even on empty input (an empty list, so ndv 0 — countDistinct
    semantics).
    """
    config = HLLConfig(log2m, regwidth)
    keys = list(by)
    if hash_method == "murmur3":
        value = _murmur3_value(df, value_col)
    elif hash_method not in ("xxhash64", "raw"):
        raise ValueError(
            f"unknown hash_method {hash_method!r}: use 'xxhash64', 'murmur3' or 'raw'"
        )

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
    # source, any AQE-coalesced shuffle output). The same holds for the
    # murmur3 partials: one packed register list per partition.
    if not keys and not df.isStreaming:
        _cores = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() > _cores:
            df = df.coalesce(_cores)

    schema = _merge_schema(df, keys, estimate=estimate, keep_sketch=keep_sketch)
    kernel = _assemble_kernel(
        keys, config, schema, estimate=estimate, keep_sketch=keep_sketch
    )
    # countDistinct semantics: NULL values are not counted
    if hash_method == "murmur3":
        src = df.filter(F.col(value_col).isNotNull()).select(
            *keys, value.alias(_HASH_COL)
        )
        partial_schema = StructType(
            [src.schema[k] for k in keys]
            + [
                StructField(_PACKED_COL, ArrayType(LongType(), False), False),
                StructField(_ROWS_COL, LongType(), False),
            ]
        )
        partials = src.mapInArrow(
            _murmur3_partial_kernel(keys, config, partial_schema),
            schema=partial_schema,
        )
        per_group = partials.groupBy(*keys).agg(
            F.flatten(F.collect_list(_PACKED_COL)).alias(_PACKED_COL),
            # a global aggregate over no rows sums to NULL
            F.coalesce(F.sum(_ROWS_COL), F.lit(0).cast("long")).alias(_ROWS_COL),
        )
        return per_group.mapInArrow(kernel, schema=schema)

    if hash_method == "raw":
        # reference addRaw parity at DataFrame level: value_col already
        # holds 64-bit hashes (e.g. from an AK-ecosystem producer);
        # sketch them directly, no re-hash. Filter AFTER the cast: a
        # non-castable value (string garbage) yields a NULL hash that
        # would otherwise crash register assembly
        df = df.select(*keys, F.col(value_col).cast("long").alias(value_col))
        df = df.filter(F.col(value_col).isNotNull())
        h = F.col(value_col)
    else:
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
    return per_group.mapInArrow(kernel, schema=schema)


def hll_ndv(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    log2m: int = 13,
    regwidth: int = 5,
    hash_method: str = "xxhash64",
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
        estimate=True,
        keep_sketch=False,
        engine=engine,
        # ndv drops rows_seen — skip its aggregation buffer
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
        hash_method="raw",
        estimate=True,
        keep_sketch=False,
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
