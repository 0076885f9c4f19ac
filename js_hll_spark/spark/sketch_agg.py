"""Generic two-phase harness for the companion sketches (count-min, KLL,
t-digest, Bloom) — the same partial-per-partition -> merge-sketches-only
template as the HLL path in agg.py (SURVEY.md §2.3: all four are
commutative-monoid merges, so they share plumbing, partition-order
story and salting behavior).

Value transport:
- hash-positional sketches (cms, bloom) consume ``F.xxhash64(col)``
  computed JVM-side; raw values never cross into Python
- value sketches (kll, tdigest) consume the column cast to double

Group keys take agg.py's one Arrow key path: the partials are
``_keyed_partial_kernel`` and the merge is ``_sorted_merge``, so every
kind returns exactly Catalyst's groups.

``heavy_hitters`` does not go through the harness: Catalyst counts each
(group, value) exactly, and two ``mapInArrow`` kernels build the
count-min partials with exact-count candidates, then merge and score
them, one row per group.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from ..core.bloom import BloomFilter
from ..core.cms import CountMinSketch, km_positions
from ..core.kll import KLLSketch
from ..core.tdigest import TDigest
from ..hashing import to_uint64
from .agg import (
    _SKETCH_CACHE_BYTES,
    _identity_seed,
    _keyed_partial_kernel,
    _run_starts,
    _sorted_merge,
)

_VAL = "__v"
_CMS = "__cms"
_CANDS = "__cands"


def _bloom_update(s: BloomFilter, v: np.ndarray, n: np.ndarray) -> None:
    u = np.unique(to_uint64(v))
    s.add_hashed(u)
    # n_items tracks insertions for the FPR estimate; count duplicates too
    s.n_items += int(v.size - u.size)


# ``update(sketch, values, counts)``: counts are the rows behind each
# value — Catalyst's pre-aggregated counts for cms, ones otherwise
_KINDS: dict[str, dict] = {
    "cms": {
        "factory": lambda p: CountMinSketch(p.get("depth", 5), p.get("width", 2048)),
        "update": lambda s, v, n: s.update_hashed(to_uint64(v), n),
        "decode": CountMinSketch.from_bytes,
        "hashed": True,
    },
    "bloom": {
        "factory": lambda p: BloomFilter(p.get("n_bits", 1 << 20), p.get("n_hashes", 5)),
        "update": _bloom_update,
        "decode": BloomFilter.from_bytes,
        "hashed": True,
    },
    "kll": {
        "factory": lambda p: KLLSketch(p.get("k", 200)),
        "update": lambda s, v, n: s.update(v),
        "decode": KLLSketch.from_bytes,
        "hashed": False,
    },
    "tdigest": {
        "factory": lambda p: TDigest(p.get("compression", 100.0)),
        "update": lambda s, v, n: s.update(v),
        "decode": TDigest.from_bytes,
        "hashed": False,
    },
}


def sketch_agg(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    kind: str,
    params: dict | None = None,
    finalize: Callable[[object], dict] | None = None,
    finalize_schema: list[StructField] | None = None,
) -> DataFrame:
    """Aggregate ``value_col`` into one ``kind`` sketch per group.

    Returns (keys..., sketch binary, rows_seen long, *finalize columns).
    ``finalize(sketch) -> {col: value}`` runs once per merged group. An
    unkeyed call returns one row even on empty input.

    Memory-bounded: a task's partial sketches are emitted early past
    4,096 keys or a fixed byte budget (the merge re-reduces duplicates).
    """
    spec = _KINDS[kind]
    params = params or {}
    keys = list(by)

    # CMS is linear in counts, so duplicates collapse JVM-side first: a
    # two-phase HashAggregate reduces the Arrow boundary from one row per
    # input row to one row per distinct value — for Zipf token streams
    # that's a 10^4-10^6x cut in what crosses into Python, and the shuffle
    # moves only per-partition uniques (never worse than shipping rows).
    # countDistinct-style null exclusion (the hll harness convention):
    # xxhash64(NULL) returns the seed, so unfiltered NULLs would
    # materialize as one phantom value (bloom: NULL probes report
    # member; cms: phantom heavy hitter with the null count)
    df = df.filter(F.col(value_col).isNotNull())
    counted = kind == "cms"
    if counted:
        src = (
            df.select(*keys, F.xxhash64(F.col(value_col)).alias(_VAL))
            .groupBy(*keys, _VAL)
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
    elif spec["hashed"]:
        src = df.select(*keys, F.xxhash64(F.col(value_col)).alias(_VAL))
    else:
        # numeric kinds: NaN is a NON-null double (survives the isNotNull
        # filter above) that the sketch's own update() silently strips —
        # drop it JVM-side so the merged sketch's item count and the
        # reported rows_seen agree
        src = df.select(
            *keys, F.col(value_col).cast("double").alias(_VAL)
        ).filter(F.col(_VAL).isNotNull() & ~F.isnan(F.col(_VAL)))

    partial_schema = StructType(
        [src.schema[k] for k in keys]
        + [
            StructField("sketch", BinaryType(), False),
            StructField("rows_seen", LongType(), False),
        ]
    )

    def prepare(batch):
        v = batch.column(_VAL).to_numpy()
        n = batch.column("__cnt").to_numpy() if counted else np.ones(v.size, np.int64)
        return [v, n]

    def update(state, v, n):
        spec["update"](state[0], v, n)
        state[1] += int(n.sum())

    # Variable-size kinds (kll/tdigest) serialize tiny while empty (KLL
    # 32 B empty vs ~2.5 KB populated), so a byte budget fed only by the
    # at-creation sample under-counts state by 35-80x (ADVICE r3). The
    # size is sampled when the first sketch is made and re-sampled as the
    # largest serialized partial at every flush, which only tightens the
    # budget; a cap of 4,096 keys bounds what the sample cannot see
    # (4,096 x the largest partial, a ~640 KB CMS, is 2.6 GB worst case).
    size = [0]

    def factory():
        s = spec["factory"](params)
        size[0] = size[0] or len(s.to_bytes())
        return [s, 0]

    def emit(state):
        blob = state[0].to_bytes()
        size[0] = max(size[0], len(blob))
        return blob, state[1]

    partial = _keyed_partial_kernel(
        keys,
        partial_schema,
        "sketch_partial",
        prepare=prepare,
        factory=factory,
        update=update,
        emit=emit,
        state_bytes=lambda: max(size[0], _SKETCH_CACHE_BYTES // 4096),
        budget=_SKETCH_CACHE_BYTES,
    )
    partials = src.mapInArrow(partial, schema=partial_schema)
    if not keys:
        # empty-input seed: the union identity, so an empty or all-null
        # input still yields one empty-sketch row
        partials = partials.unionByName(
            _identity_seed(
                df.sparkSession, partial_schema, lambda: spec["factory"](params).to_bytes()
            )
        )

    fin_cols = [f.name for f in finalize_schema or []]

    def emit_group(acc, rows):
        fin = finalize(acc) if finalize is not None else {}
        return (acc.to_bytes(), rows, *(fin[c] for c in fin_cols))

    return _sorted_merge(
        partials,
        keys,
        StructType(list(partial_schema.fields) + (finalize_schema or [])),
        "sketch_merge",
        decode=spec["decode"],
        merge=lambda acc, s: acc.merge(s),
        emit=emit_group,
        sketch_col="sketch",
        rows_col="rows_seen",
    )


# ------------------------------------------------------------ pipelines --


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    *,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    method: str = "kll",
    params: dict | None = None,
) -> DataFrame:
    """(keys..., q50, q90, ... doubles) via KLL or t-digest — the sketch
    twin of ``percentile``/``percentile_approx`` (SURVEY.md §2.2)."""
    from pyspark.sql.types import DoubleType

    cols = [f"q{int(q * 100) if q * 100 == int(q * 100) else str(q).replace('.', '_')}" for q in qs]

    def fin(s) -> dict:
        vals = s.quantiles(list(qs))
        return dict(zip(cols, vals))

    out = sketch_agg(
        df,
        value_col,
        by,
        kind=method,
        params=params,
        finalize=fin,
        finalize_schema=[StructField(c, DoubleType(), True) for c in cols],
    )
    return out.select(*by, *cols)


def _hh_partial_kernel(keys: list[str], schema: StructType, *, depth: int, width: int, pool: int):
    """mapInArrow kernel of heavy_hitters' first pass over one
    partition's counted rows (keys..., __v, __n, __h), sorted by the
    keys. Each run of equal keys emits one row with the group's
    count-min partial and NULL value, and one row with a NULL sketch for
    each of its top-``pool`` values by (count desc, value asc).

    Memory is one CMS and ``pool`` candidate rows, whatever the number
    of groups: a run stays open across batches, and output goes out in
    chunks of about 4 MB of sketches."""
    chunk = max(1, (4 << 20) // (8 * depth * width))
    order = [("__n", "descending"), (_VAL, "ascending")]

    def hh_partial(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        sk = CountMinSketch(depth, width)
        top = prev = None  # the open run's candidates; the last row's keys
        out: list = []

        def close_run() -> None:
            v, h = top.column(_VAL), top.column("__h")
            head = [top.column(kc).slice(0, 1) for kc in keys]
            blob = [pa.array([sk.to_bytes()], pa.binary()), pa.nulls(1, v.type), pa.nulls(1, h.type)]
            cands = [top.column(kc) for kc in keys] + [pa.nulls(len(v), pa.binary()), v, h]
            out.extend(pa.table(c, names=schema.names) for c in (head + blob, cands))
            sk.table.fill(0)
            sk.total = 0

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if keys:
                kcols = [batch.column(kc) for kc in keys]
                starts = _run_starts(kcols, prev)
                prev = [c.slice(n - 1, 1) for c in kcols]
            else:
                starts = np.array([0] if top is None else [], dtype=np.int64)
            opens_run = starts.size > 0 and starts[0] == 0
            rows = pa.Table.from_batches([batch]).select(keys + [_VAL, "__h", "__n"])
            hashes = to_uint64(batch.column("__h").to_numpy())
            counts = batch.column("__n").to_numpy()
            cuts = np.union1d(starts, [0, n])
            for lo, hi in zip(cuts[:-1], cuts[1:]):
                if top is not None and (lo > 0 or opens_run):
                    close_run()
                    top = None
                    if len(out) >= 2 * chunk:
                        yield from pa.concat_tables(out).combine_chunks().to_batches()
                        out.clear()
                sk.update_hashed(hashes[lo:hi], counts[lo:hi])
                piece = rows.slice(lo, hi - lo)
                top = piece if top is None else pa.concat_tables([top, piece])
                if top.num_rows > pool:
                    top = top.take(pc.select_k_unstable(top, pool, order))
        if top is not None:
            close_run()
        if out:
            yield from pa.concat_tables(out).combine_chunks().to_batches()

    return hh_partial


def _hh_score_kernel(keys: list[str], schema: StructType, *, depth: int, width: int):
    """mapInArrow kernel of heavy_hitters' second pass: one row per group
    (keys, list of count-min partials, list of candidate (value, hash)
    structs) in; the partials summed into one reused table, and one
    (keys..., value, est_count) row per candidate out. Key columns pass
    through as Arrow arrays."""
    rows = np.arange(depth)[:, None]

    def hh_score(batches):
        import pyarrow as pa

        table = np.zeros((depth, width), dtype=np.int64)
        for batch in batches:
            sketches, cands = batch.column(_CMS), batch.column(_CANDS)
            s_offs = sketches.offsets.to_numpy()
            c_offs = cands.offsets.to_numpy()
            base, end = c_offs[0], c_offs[-1]
            values = cands.values.field(_VAL).slice(base, end - base)
            hashes = to_uint64(cands.values.field("__h").to_numpy()[base:end])
            est = np.empty(end - base, dtype=np.int64)
            for i in range(batch.num_rows):
                table.fill(0)
                for j in range(s_offs[i], s_offs[i + 1]):
                    # the CMS1 table after its 20-byte header (to_bytes)
                    blob = sketches.values[j].as_buffer()
                    table += np.frombuffer(blob, "<i8", offset=20).reshape(depth, width)
                lo, hi = c_offs[i] - base, c_offs[i + 1] - base
                est[lo:hi] = table[rows, km_positions(hashes[lo:hi], depth, width)].min(axis=0)
            owner = pa.array(np.repeat(np.arange(batch.num_rows), np.diff(c_offs)))
            cols = [batch.column(kc).take(owner) for kc in keys]
            yield pa.RecordBatch.from_arrays(cols + [values, pa.array(est)], names=schema.names)

    return hh_score


def heavy_hitters(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    *,
    k: int = 20,
    depth: int = 5,
    width: int = 8192,
    candidate_pool: int | None = None,
) -> DataFrame:
    """Approximate top-k frequent values, per ``by`` group when given:
    (keys..., value, est_count), each group's k candidates with the
    largest count-min estimates (ties by value).

    One lazy pass serves keyed and unkeyed calls. Catalyst counts
    ``groupBy(keys, value)``; its partial aggregate collapses duplicates
    before the shuffle, so each (group, value) count is then exact and
    sits in one partition. One Arrow map per partition (``hh_partial``)
    builds each group's count-min partial from (xxhash64, count) and
    keeps the group's top ``candidate_pool`` values by exact count, so
    every value of a group's exact top ``candidate_pool`` is a
    candidate. Keyed rows are sorted by the keys within each partition,
    so the map holds one sketch at a time. ``groupBy(keys)`` gathers each
    group's partials and candidates into one row, and a second Arrow map
    (``hh_score``) merges the partials and estimates every candidate;
    ``orderBy``/``limit`` or a per-group window keeps k.

    Group keys stay Arrow columns, so NULL, NaN and int64 keys above
    2**53 are exactly Catalyst's groups. The CMS's one-sided error
    bounds the reported counts (SURVEY.md §2.2 'frequency')."""
    from pyspark.sql.types import StringType
    from pyspark.sql.window import Window

    keys = list(by)
    counted = (
        df.select(*keys, F.col(col).cast("string").alias(_VAL))
        .filter(F.col(_VAL).isNotNull())
        .groupBy(*keys, _VAL)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__h", F.xxhash64(_VAL))
    )
    if keys:
        counted = counted.sortWithinPartitions(*keys)
    key_fields = [counted.schema[kc] for kc in keys]
    partial_schema = StructType(
        key_fields
        + [
            StructField(_CMS, BinaryType()),
            StructField(_VAL, StringType()),
            StructField("__h", LongType()),
        ]
    )
    partial = _hh_partial_kernel(
        keys, partial_schema, depth=depth, width=width, pool=candidate_pool or max(200, 10 * k)
    )
    cand = F.when(F.col(_VAL).isNotNull(), F.struct(_VAL, "__h"))
    per_group = (
        counted.mapInArrow(partial, schema=partial_schema)
        .groupBy(*keys)
        .agg(F.collect_list(_CMS).alias(_CMS), F.collect_list(cand).alias(_CANDS))
    )
    out_schema = StructType(
        key_fields
        + [StructField("value", StringType()), StructField("est_count", LongType())]
    )
    scored = per_group.mapInArrow(
        _hh_score_kernel(keys, out_schema, depth=depth, width=width), schema=out_schema
    )
    if not keys:
        return scored.orderBy(F.desc("est_count"), F.asc("value")).limit(k)
    w = Window.partitionBy(*keys).orderBy(F.desc("est_count"), F.asc("value"))
    ranked = scored.withColumn("__rn", F.row_number().over(w))
    return ranked.filter(F.col("__rn") <= k).drop("__rn")
