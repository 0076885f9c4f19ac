"""Mergeable HLL aggregation over DataFrames — one dense register path
and one group-key path.

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

**Group keys.** Every Python kernel that groups by key keeps the keys as
Arrow columns and splits key-sorted Arrow runs with :func:`_run_starts`
(NULL equals NULL, NaN equals NaN, int64 stays exact), so each returns
exactly Catalyst's groups. Partials that read unsorted rows
(``murmur3_partial``, the explicit tier, sketch_agg's companion
partials) share :func:`_keyed_partial_kernel`; merges of serialized
sketches (:func:`hll_rollup`, sketch_agg's merge) share
:func:`_sorted_merge`.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
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

# Byte bounds on one task's cache of per-key partial state in
# _keyed_partial_kernel: HLL partials (murmur3 register files,
# explicit-tier sketches), and sketch_agg's companion sketches. Past the
# bound the task emits its partials early; the merge after the shuffle
# folds the duplicate keys.
_PARTIAL_CACHE_BYTES = 32 << 20
_SKETCH_CACHE_BYTES = 256 << 20


def _run_starts(cols: list, prev: list | None) -> np.ndarray:
    """Row indexes of key-sorted Arrow columns where a run of equal keys
    starts; ``prev`` is the previous batch's last row (None for the
    first batch). NULL equals NULL and NaN equals NaN, as in Catalyst's
    grouping."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if prev is not None:
        cols = [pa.concat_arrays([p, c]) for p, c in zip(prev, cols)]
    n = len(cols[0])
    new = np.zeros(n, dtype=bool)
    new[0] = prev is None
    for c in cols:
        a, b = c.slice(1), c.slice(0, n - 1)
        ne = pc.not_equal(a, b)
        if pa.types.is_floating(c.type):
            ne = pc.and_(ne, pc.invert(pc.and_(pc.is_nan(a), pc.is_nan(b))))
        ne = pc.if_else(pc.is_null(ne), pc.xor(pc.is_null(a), pc.is_null(b)), ne)
        new[1:] |= ne.to_numpy(zero_copy_only=False)
    return np.flatnonzero(new) - (prev is not None)


def _value_types(schema: StructType, keys: Sequence[str]) -> list:
    """Arrow types of ``schema``'s columns after the keys."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return [f.type for f in to_arrow_schema(schema)][len(keys):]


def _group_batch(keys, outs: list, names: list, types: list):
    """One output RecordBatch of finished groups: ``keys``, an Arrow
    table of their key rows, then their ``emit`` tuples column by
    column."""
    import pyarrow as pa

    cols = [c.combine_chunks() for c in keys.columns]
    cols += [pa.array(list(v), t) for v, t in zip(zip(*outs), types)]
    return pa.RecordBatch.from_arrays(cols, names=names)


def _keyed_partial_kernel(
    keys, schema, name, *, prepare, factory, update, emit, state_bytes, budget
):
    """mapInArrow kernel skeleton of every Python partial that groups
    unsorted rows by key (``murmur3_partial``, the explicit tier,
    sketch_agg's companion partials). Rows in: the keys and the columns
    ``prepare(batch)`` turns into numpy arrays (hashes, values, counts);
    rows out: each cached key's Arrow key row, then ``emit(state)``.

    Each Arrow batch is sorted by the keys and split into runs of equal
    keys; each run folds into its key's state as
    ``update(state, *arrays[lo:hi])``, the state made by ``factory()``.
    The dict of states is only a cache keyed by the Python key tuple: a
    key whose lookup misses (a NaN) adds another entry and emits another
    partial row, which the merge folds back. When a new key would take
    the cache past ``budget`` bytes at ``state_bytes()`` per key, the
    kernel emits its partials early; output goes out in chunks of about
    4 MB of state."""
    sort_keys = [(k, "ascending") for k in keys]
    names, types = schema.names, _value_types(schema, keys)

    def keyed_partial(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        cache: dict[tuple, object] = {}
        # the cached keys' Arrow rows in cache order, copied out of their
        # batches so a cached key does not pin its whole batch
        key_rows: list = []

        def flush():
            keys_t, states = pa.Table.from_batches(key_rows), list(cache.values())
            cache.clear()
            key_rows.clear()
            step = max(1, (4 << 20) // state_bytes())
            for lo in range(0, len(states), step):
                outs = [emit(s) for s in states[lo : lo + step]]
                yield _group_batch(keys_t.slice(lo, step), outs, names, types)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            arrays = prepare(batch)
            kb, starts = batch.select(keys), np.zeros(1, dtype=np.int64)
            if keys:
                order = pc.sort_indices(batch, sort_keys=sort_keys, null_placement="at_end")
                kb, order = kb.take(order), order.to_numpy()
                arrays = [a[order] for a in arrays]
                starts = _run_starts(kb.columns, None)
            fresh: list[int] = []  # this batch's rows of keys new to the cache
            for lo, hi in zip(starts, np.append(starts[1:], n)):
                key = tuple(c[lo].as_py() for c in kb.columns)
                state = cache.get(key)
                if state is None:
                    if len(cache) >= max(1, budget // state_bytes()):
                        key_rows.append(kb.take(np.array(fresh, dtype=np.int64)))
                        fresh = []
                        yield from flush()
                    state = cache[key] = factory()
                    fresh.append(lo)
                update(state, *(a[lo:hi] for a in arrays))
            key_rows.append(kb.take(np.array(fresh, dtype=np.int64)))
        if cache:
            yield from flush()

    keyed_partial.__name__ = name
    return keyed_partial


def _sorted_merge(df, keys, schema, name, *, decode, merge, emit, sketch_col, rows_col=None):
    """Merge serialized sketches into one row per group — the fold shared
    by :func:`hll_rollup` and sketch_agg. Rows are hash-partitioned and
    sorted by the keys (an unkeyed merge runs on one partition), and one
    mapInArrow kernel folds each run of equal keys, ``decode(blob)`` per
    row and ``merge(acc, sketch)``, carrying the open run across Arrow
    batches. Each group goes out as its key's Arrow row from the input,
    then ``emit(acc, rows)`` with ``rows`` the sum of ``rows_col``. A
    group's sketch is serialized when its run ends, so the kernel holds
    one decoded sketch at a time."""
    names, types = schema.names, _value_types(schema, keys)

    def sorted_merge(batches):
        import pyarrow as pa

        acc = key = prev = None
        rows, key_rows, outs = 0, [], []
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            kb = batch.select(keys)
            if keys:
                starts = _run_starts(kb.columns, prev)
                prev = [c.slice(n - 1, 1) for c in kb.columns]
            else:
                starts = [0] if key is None else []
            new = np.zeros(n, dtype=bool)
            new[starts] = True
            blobs = batch.column(sketch_col).to_pylist()
            seen = batch.column(rows_col).fill_null(0).to_pylist() if rows_col else [0] * n
            for i in range(n):
                if new[i]:
                    if key is not None:
                        key_rows.append(key)
                        outs.append(emit(acc, rows))
                    acc, rows, key = None, 0, kb.slice(i, 1)
                s = decode(blobs[i])
                acc = s if acc is None else merge(acc, s)
                rows += seen[i]
            if outs:
                yield _group_batch(pa.Table.from_batches(key_rows), outs, names, types)
                key_rows, outs = [], []
        if key is not None:
            yield _group_batch(pa.Table.from_batches([key]), [emit(acc, rows)], names, types)

    sorted_merge.__name__ = name
    if keys:
        df = df.repartition(*keys).sortWithinPartitions(*keys)
    else:
        df = df.repartition(1)
    return df.mapInArrow(sorted_merge, schema=schema)


def _hashes(values, murmur3: bool) -> np.ndarray:
    """uint64 hashes of an Arrow column: the AK murmur3 of its values, or
    its longs as they are (already hashed: xxhash64 or 'raw')."""
    import pyarrow as pa

    if not murmur3:
        return to_uint64(values.to_numpy())
    if pa.types.is_integer(values.type):
        return murmur3_64_uint64(to_uint64(values.to_numpy()))
    return murmur3_64_bytes(values)


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

    Group keys stay Arrow columns on every engine, so NULL, NaN and
    int64 keys above 2**53 come back as exactly Catalyst's groups.

    Memory: per partition the dense path holds O(keys x m) register
    state — in Catalyst's spill-capable HashAggregate, or for murmur3 in
    a register-file cache that is emitted early past a fixed byte bound.
    ``groupBy(keys)`` then gathers each group's registers into one row:
    for xxhash64/raw at most m packed longs, for murmur3 up to
    (map partitions holding the group) x m keyed (8 MB at 128 partitions
    and log2m 13) and at most cores x m unkeyed. Prefer a smaller log2m
    per key over millions of keys (the error bound is per sketch, and
    tiny groups saturate far below m registers anyway).
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
    and estimates degrade gracefully to the dense tier's accuracy. Each
    task's partial sketches are emitted early past a fixed byte bound
    (:func:`_keyed_partial_kernel`)."""
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
    murmur3 = hash_method == "murmur3"

    schema = StructType(
        [hashed.schema[k] for k in keys]
        + [
            StructField(_SKETCH_COL, BinaryType(), False),
            StructField(_ROWS_COL, LongType(), False),
        ]
    )

    def update(state, h):
        state[0].add_raw64(h)
        state[1] += h.size

    partial = _keyed_partial_kernel(
        keys,
        schema,
        "hll_explicit_partial",
        prepare=lambda batch: [_hashes(batch.column(_HASH_COL), murmur3)],
        factory=lambda: [HLL(config), 0],
        update=update,
        emit=lambda state: (state[0].to_bytes(), state[1]),
        # an HLL object holds at most ~16 bytes per register: its explicit
        # set just below promotion (6-13 bytes per register measured at
        # rw 5-8); the register file after it holds 1
        state_bytes=lambda: 16 * config.m,
        budget=_PARTIAL_CACHE_BYTES,
    )
    partials = hashed.mapInArrow(partial, schema=schema)
    if not keys:
        # empty-input seed: the union identity, so an empty input still
        # yields one row with ndv 0
        partials = partials.unionByName(
            _identity_seed(df.sparkSession, schema, lambda: HLL(config).to_bytes())
        )
    out = hll_rollup(partials, keys, estimate=estimate, rows_col=_ROWS_COL)
    if not keep_sketch:
        out = out.drop(_SKETCH_COL)
    return out


def _identity_seed(spark, schema: StructType, blob) -> DataFrame:
    """One (sketch, rows_seen = 0) partial holding ``blob()``, a merge's
    identity, built on an executor: Spark runs no Python worker for an
    empty relation, and a driver-side literal would embed the sketch in
    the plan."""

    def identity_seed(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays(
            [pa.array([blob()], pa.binary()), pa.array([0], pa.int64())],
            names=schema.names,
        )

    return spark.range(1).mapInArrow(identity_seed, schema=schema)


def _murmur3_partial_kernel(keys, config, schema):
    """mapInArrow kernel that produces hll_sketch_sql's packed registers
    for ``hash_method='murmur3'``: (keys..., value) rows in, one
    (keys..., ``__regs``, ``rows_seen``) row per key out — the nonzero
    registers packed as ``(idx << 8) | val``, the format hll_assemble
    reads. Each run of equal keys is hashed with the vectorized AK
    murmur3 and max-reduces into its key's register file, at most
    ``_PARTIAL_CACHE_BYTES`` of them per task
    (:func:`_keyed_partial_kernel`)."""
    m = config.m

    def update(state, h):
        update_registers(state[0], h, config)
        state[1] += h.size

    def emit(state):
        regs, rows = state
        nz = np.flatnonzero(regs)
        return (nz << 8) | regs[nz], rows

    return _keyed_partial_kernel(
        keys,
        schema,
        "murmur3_partial",
        prepare=lambda batch: [_hashes(batch.column(_HASH_COL), True)],
        factory=lambda: [np.zeros(m, dtype=np.uint8), 0],
        update=update,
        emit=emit,
        state_bytes=lambda: m,
        budget=_PARTIAL_CACHE_BYTES,
    )


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
        regs = sk.registers()
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


def _groups_by(df: DataFrame, value_col: str) -> bool:
    """Whether ``df`` ends, past projections and filters, in an Aggregate
    grouped by ``value_col``, read off the plan without running a job."""
    try:
        # a fresh plan: a DataFrame computes its withCachedData only once
        plan = df.select("*")._jdf.queryExecution().withCachedData()
        out = [plan.output().apply(i) for i in range(plan.output().size())]
        value = next(a for a in out if a.name().lower() == value_col.lower())
        while plan.nodeName() in ("Project", "Filter", "SubqueryAlias", "View"):
            plan = plan.child()
        if plan.nodeName() != "Aggregate":
            return False
        groups = plan.groupingExpressions()
        return any(groups.apply(i).semanticEquals(value) for i in range(groups.size()))
    except Exception:
        return False


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

    schema = _merge_schema(df, keys, estimate=estimate, keep_sketch=keep_sketch)
    kernel = _assemble_kernel(
        keys, config, schema, estimate=estimate, keep_sketch=keep_sketch
    )
    # Unkeyed: one task per core at most, no partition probe (a job). None
    # over a groupBy(value) RemoveRedundantAggregates can drop (no rows_seen).
    if not keys and not df.isStreaming:
        if hash_method == "murmur3" or _count_rows or not _groups_by(df, value_col):
            df = df.coalesce(df.sparkSession.sparkContext.defaultParallelism)
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
    fold and emitted last. Group keys come back as Arrow rows of the
    input, exactly Catalyst's groups (:func:`_sorted_merge`); an unkeyed
    rollup of an empty table returns no rows."""
    keys = list(by)
    fields = [df.schema[k] for k in keys] + [StructField(_SKETCH_COL, BinaryType(), False)]
    if estimate:
        fields.append(StructField("ndv", DoubleType(), False))
    if rows_col:
        fields.append(StructField(rows_col, LongType(), False))

    def emit(acc, rows):
        out = (acc.to_bytes(),)
        if estimate:
            out += (acc.algorithm_cardinality(),)
        return out + (rows,) if rows_col else out

    return _sorted_merge(
        df.select(*keys, sketch_col, *([rows_col] if rows_col else [])),
        keys,
        StructType(fields),
        "hll_rollup",
        decode=HLL.from_bytes,
        merge=lambda acc, s: acc.union(s),
        emit=emit,
        sketch_col=sketch_col,
        rows_col=rows_col,
    )
