"""Persistent sketch tables — "aggregate once, query many".

The production pattern the reference's ecosystem is built around
(postgresql-hll rollup tables; js-hll exists to render them, see
/root/reference/README.md:9-14): raw events are reduced once to one
HLL sketch per (partition, group) and stored; every later NDV question
is answered by merging a handful of KB-sized sketches instead of
re-scanning TBs of raw data. Unions are lossless (the estimate of a
union of sketches equals the estimate of sketching the union of the
raw data), so any coarser grain — other groupings, longer time ranges,
global — is derivable from the stored table alone.

Scale shape: the stored table is Hive-partitioned on the partition
column, so a time/shard-ranged query prunes to the matching sketch
files at the scan (partition pruning, visible as PartitionFilters in
the plan); incremental loads rewrite only the partitions present in
the new batch (dynamic partition overwrite — an idempotent upsert, no
read-modify-write of the whole table).
"""

from __future__ import annotations

import json
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from .. import fsio
from ..hashing import DEFAULT_SEED
from ..spark.agg import hll_rollup, hll_sketch

_META = "_meta.json"


def _sketch_meta(
    sketch_kw: dict,
    *,
    value_col: str,
    partition_col: str,
    by: Sequence[str],
) -> dict:
    """The hashing convention AND table grain a stored sketch table was
    built with. The AK storage format records neither the hash function
    nor the seed, so two tables hashed differently union silently into
    garbage NDV (ADVICE r3); and a write under a different grain
    (partition_col/by/value_col) would land mixed-schema partitions the
    readers then group wrongly — both mismatches are made detectable by
    persisting the declaration beside the table."""
    method = sketch_kw.get("hash_method", "xxhash64")
    return {
        "hash_method": method,
        # murmur3 runs with the library seed constant; xxhash64 is
        # Spark's fixed-seed builtin; 'raw' means the caller hashed
        "hash_seed": DEFAULT_SEED if method == "murmur3" else None,
        "log2m": sketch_kw.get("log2m", 13),
        "regwidth": sketch_kw.get("regwidth", 5),
        "value_col": value_col,
        "partition_col": partition_col,
        "by": list(by),
    }


def _read_meta(path: str) -> dict | None:
    text = fsio.read_text(f"{path.rstrip('/')}/{_META}")
    if text is None:
        return None
    try:
        return json.loads(text)
    except ValueError:
        return None


def _check_meta(path: str, meta: dict) -> None:
    """Refuse to touch a stored table under a different hashing
    convention or grain (no side effects — safe to call before any
    write). Manifests written before the grain fields existed compare
    on the keys they carry (convention only)."""
    existing = _read_meta(path)
    if existing is None:
        return
    diffs = {
        k: (existing[k], meta[k])
        for k in meta
        if k in existing and existing[k] != meta[k]
    }
    if diffs:
        raise ValueError(
            f"sketch table at {path} was built with {existing}, but this "
            f"batch declares {meta} (differs on {sorted(diffs)}) — "
            "unioning sketches across hash conventions produces silent "
            "garbage, and a different grain lands mixed-schema "
            "partitions; rebuild the table or match its declaration"
        )


def _check_and_write_meta(path: str, meta: dict) -> None:
    """_check_meta + atomically (re)write the manifest (fsio: lands
    beside the data on any filesystem, incl. object stores)."""
    _check_meta(path, meta)
    fsio.makedirs(path)
    fsio.write_text_atomic(f"{path.rstrip('/')}/{_META}", json.dumps(meta))


def build_sketch_table(
    df: DataFrame,
    value_col: str,
    path: str,
    *,
    partition_col: str,
    by: Sequence[str] = (),
    mode: str = "overwrite",
    **sketch_kw,
) -> None:
    """Reduce ``df`` to one sketch per (partition_col, *by) and write a
    Hive-partitioned parquet sketch table at ``path``. ``sketch_kw``
    passes through to :func:`hll_sketch` (log2m, regwidth, engine, ...)."""
    meta = _sketch_meta(
        sketch_kw, value_col=value_col, partition_col=partition_col, by=by
    )
    if mode == "append":
        # fail BEFORE landing rows: an append under a different hashing
        # convention would permanently mix sketches in-place — the exact
        # silent-garbage union the manifest exists to prevent. Check
        # only (no mkdir/manifest side effects — creating the path
        # first would break mode='error'/'ignore' semantics, whose
        # writes key off path existence)
        _check_meta(path, meta)
    # fsio, not os.path: on an object-store URI a local-path probe is
    # always False, and mode='ignore' would then re-label a pre-existing
    # remote table whose write Spark silently skipped
    pre_existing = fsio.exists(path)
    sk = hll_sketch(
        df, value_col, by=[partition_col, *by], estimate=False, **sketch_kw
    )
    # partitionOverwriteMode is pinned STATIC: build semantics are "replace
    # the whole table". If the session default were dynamic (as
    # update/merge pin for themselves), mode='overwrite' would keep any
    # partition absent from this batch AND the previous _meta.json — so a
    # convention change would land mixed-convention rows and only then
    # trip the manifest check. Static overwrite clears the directory, so
    # the post-write manifest write sees a fresh table.
    (
        sk.write.mode(mode)
        .option("partitionOverwriteMode", "static")
        .partitionBy(partition_col)
        .parquet(path)
    )
    if mode == "ignore" and pre_existing:
        # the write was silently skipped against a pre-existing table —
        # never (re)label a table this call did not produce
        return
    _check_and_write_meta(path, meta)


def update_sketch_table(
    df: DataFrame,
    value_col: str,
    path: str,
    *,
    partition_col: str,
    by: Sequence[str] = (),
    **sketch_kw,
) -> None:
    """Incremental load: sketch the new batch and overwrite ONLY the
    partitions it contains (dynamic partition overwrite). Re-running the
    same batch is idempotent; partitions not present in ``df`` are
    untouched. The batch must carry whole partitions — sketch rows
    replace, not merge, because a stored sketch cannot be un-unioned."""
    _check_and_write_meta(
        path,
        _sketch_meta(
            sketch_kw, value_col=value_col, partition_col=partition_col, by=by
        ),
    )
    sk = hll_sketch(
        df, value_col, by=[partition_col, *by], estimate=False, **sketch_kw
    )
    (
        sk.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def merge_into_sketch_table(
    df: DataFrame,
    value_col: str,
    path: str,
    *,
    partition_col: str,
    by: Sequence[str] = (),
    **sketch_kw,
) -> None:
    """Merge-on-write incremental load for batches that carry PARTIAL
    partitions (e.g. late-arriving events for an already-loaded day):
    sketch the batch, union it with the stored sketches of only the
    partitions it touches, and dynamically overwrite those partitions.
    The read-modify-write moves KB-sized sketch rows, never raw data.
    Unions are idempotent on registers, so re-merging the same batch
    leaves every NDV unchanged (only ``rows_seen`` inflates — it counts
    rows offered, not distinct).

    One small collect finds the batch's partition values; the stored
    table is read through a static filter on them, so its scan prunes to
    those directories. The rest is one lazy query. The batch is thus
    evaluated twice: a row whose partition is outside the collected set
    fails the write, so a non-deterministic batch can never overwrite a
    partition whose stored sketches were not read. Reading the table
    being overwritten is safe: dynamic partition overwrite writes into a
    staging directory and swaps partition directories only at job
    commit, after every read task has finished."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from ..streaming.ndv import merge_sketch_tables

    _check_and_write_meta(
        path,
        _sketch_meta(
            sketch_kw, value_col=value_col, partition_col=partition_col, by=by
        ),
    )
    values = [r[0] for r in df.select(partition_col).distinct().collect()]
    key = F.col(partition_col)
    # isin never matches NULL: without isNull the overwrite would
    # replace the stored NULL partition's sketches unread
    touched = key.isin([v for v in values if v is not None])
    if None in values:
        touched = touched | key.isNull()
    moved = F.raise_error(F.lit(f"batch {partition_col} changed during the merge"))
    new = hll_sketch(
        df.withColumn(partition_col, F.when(touched, key).otherwise(moved)),
        value_col,
        by=[partition_col, *by],
        estimate=False,
        **sketch_kw,
    )
    try:
        # the try guards ONLY the read (path may not exist yet); the
        # column selection must fail LOUDLY outside it — swallowing an
        # unresolved-column error here read as "no table" and let a
        # grain-mismatched batch dynamically overwrite accumulated
        # sketches with batch-only rows (the meta grain check above
        # catches declared mismatches; this is defense in depth for
        # tables with pre-grain manifests)
        existing = read_sketch_table(df.sparkSession, path)
    except AnalysisException:
        existing = None
    if existing is not None:
        existing = existing.filter(touched).select(*new.columns)
    (
        merge_sketch_tables(existing, new, [partition_col, *by])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def stream_into_sketch_table(
    stream: DataFrame,
    value_col: str,
    path: str,
    *,
    partition_col: str,
    by: Sequence[str] = (),
    checkpoint_dir: str,
    **sketch_kw,
):
    """Maintain a sketch table from a Structured Streaming source: each
    micro-batch merges into the stored table via
    :func:`merge_into_sketch_table` (one lazy read-modify-write of the
    KB-sized sketch rows of only the partitions the batch touches; it
    pins nothing, so a long-running stream holds no blocks per batch).
    Unions are idempotent on registers, so a replayed batch after
    checkpoint recovery cannot inflate any NDV — exactly-once estimates
    from an at-least-once sink. Returns the started StreamingQuery
    (caller awaits/stops)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_into_sketch_table(
            batch_df,
            value_col,
            path,
            partition_col=partition_col,
            by=by,
            **sketch_kw,
        )

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_sketch_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def query_sketch_table(
    spark: SparkSession,
    path: str,
    by: Sequence[str] = (),
    *,
    where: Column | None = None,
    estimate: bool = True,
) -> DataFrame:
    """NDV at any grain from the stored sketches alone. ``where`` filters
    BEFORE the merge — a predicate on the partition column prunes whole
    directories at the scan, so a day-range query over years of data
    reads only the matching sketch files."""
    sk = read_sketch_table(spark, path)
    if where is not None:
        sk = sk.filter(where)
    return hll_rollup(sk, by, estimate=estimate)
