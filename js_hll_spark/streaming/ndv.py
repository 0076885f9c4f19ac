"""Streaming windowed NDV over Structured Streaming.

Design (SURVEY.md §2.2 'streaming'): sketches are order-insensitive
monoids, so late data is just another merge — no retraction logic. Each
micro-batch reduces to per-(window, key) partial sketches via the same
two-phase harness as batch, then folds into a persisted sketch-table
(parquet) keyed by (window_start, keys): read current state, union, write
back. ``withWatermark`` bounds how late events may arrive before their
window's sketch row is frozen.

At cluster scale the state table would be an Iceberg table with
MERGE INTO; the stand-in here mirrors Iceberg's commit model directly
(VERDICT r5 #4): each micro-batch writes an IMMUTABLE versioned snapshot
directory ``state.v{N}`` and atomically publishes a pointer file
``_current`` (tmp-write + move, ``fsio.write_text_atomic``); readers
resolve the pointer and lazily scan the pointed snapshot — no renames
under a reader, no driver collect on the serving path. Snapshots older
than the previous one are expired after each commit (Iceberg snapshot
expiry), so a lazy reader keeps a one-micro-batch grace window; a plan
held across two or more later commits may see expired files — re-call
``read_ndv_state`` for a fresh snapshot, exactly as an Iceberg reader
re-resolves the table's current snapshot. Every state file (pointer,
replay marker, expiry, the checkpoint's query id) goes through
``fsio``, so ``state_dir`` may be a plain path or a filesystem URI.
"""

from __future__ import annotations

import json
import posixpath
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import fsio
from ..spark.agg import hll_sketch
from ..spark.functions import hll_cardinality_udf

_POINTER = "_current"
# the replay marker lives INSIDE each snapshot dir (Spark hides
# underscore files from parquet file listings), so the pointer flip
# publishes it atomically WITH the state: a marker written apart from
# the state could be lost to a crash between the two writes, and the
# replayed batch would be applied twice, permanently inflating
# rows_seen (ADVICE r3; ndv itself stays correct since register union
# is idempotent)
_MARKER = "_applied_batch"
_SNAP = "state.v"


def merge_sketch_tables(
    current: DataFrame | None, incoming: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Union-merge two sketch tables on ``keys`` (full outer; sketches
    union and ``rows_seen`` sums where both sides have rows). One keyed
    fold does both, so the union is read once and nothing is pinned."""
    from ..spark.agg import hll_rollup

    if current is None:
        return incoming
    both = current.select(*keys, "sketch", "rows_seen").unionByName(
        incoming.select(*keys, "sketch", "rows_seen")
    )
    return hll_rollup(both, keys, estimate=False, rows_col="rows_seen")


def _resolve_snapshot(state_dir: str) -> str | None:
    """Directory of the current committed state snapshot: the target of
    the ``_current`` pointer file, or None before the first commit. The
    pointer's target is validated to exist — a pointer published just
    before a crash that lost its snapshot reads as no state rather than
    a dangling path."""
    pointer = fsio.read_text(posixpath.join(state_dir, _POINTER))
    target = (pointer or "").strip()
    snap = posixpath.join(state_dir, target)
    return snap if target and fsio.exists(snap) else None


def streaming_ndv(
    stream: DataFrame,
    value_col: str,
    *,
    ts_col: str,
    window: str = "1 hour",
    keys: Sequence[str] = (),
    state_dir: str,
    watermark: str | None = "2 hours",
    log2m: int = 12,
    checkpoint_dir: str | None = None,
    engine: str = "auto",
    retention: str | None = None,
):
    """Start a foreachBatch streaming query maintaining a per-window NDV
    sketch table under ``state_dir``. Returns the StreamingQuery.

    ``watermark=None`` skips withWatermark (foreachBatch merges late data
    regardless — a late event is just another union; the watermark only
    documents the freshness bound). ``engine='explicit'`` builds TRUE
    EXPLICIT-mode sketches (exact hash sets until the explicit
    threshold), whose estimates are exact distinct counts — the oracle
    tier; 'auto'/'sql' build dense registers (the fixed-bytes scale
    tier). Read estimates any time with
    ``read_ndv_state(spark, state_dir)``.

    ``retention`` (e.g. ``"7 days"``) bounds the state table: after each
    merge, window rows older than ``max(window_start) - retention`` are
    dropped. Without it state grows one sketch row per (window, key)
    FOREVER — fine for a bounded replay, a leak on an unbounded 100 TB
    stream. Retention is applied relative to the max ingested window
    (event time), not wall clock, so a paused-and-resumed stream never
    drops rows it would still update. Default None keeps everything
    (the oracle tier replays bounded history and checks every window).
    The horizon is read from the merge's two inputs (the stored
    snapshot and the batch), so a micro-batch's merge is one lazy plan,
    run once by the snapshot write; the NULL-window row (events with a
    NULL ``ts_col``) is always kept.

    ``state_dir`` (and ``checkpoint_dir``, which defaults to
    ``state_dir/_checkpoint``) may be a plain path or a filesystem URI
    (``file://``, ``s3://``, ...): every state file goes through
    ``fsio``.
    """
    spark = stream.sparkSession
    keys = list(keys)
    checkpoint_dir = checkpoint_dir or posixpath.join(state_dir, "_checkpoint")

    windowed = (
        stream.withWatermark(ts_col, watermark) if watermark else stream
    )

    def _query_id() -> str:
        # the streaming checkpoint's stable query id ("id" persists for
        # the checkpoint's lifetime; "runId" changes per restart). A
        # RESET checkpoint mints a new id, which must invalidate the
        # replay marker: batch ids restart at 0 after a reset, and a
        # marker compared on batch id alone would silently drop the
        # first N batches of genuinely NEW data as "replays".
        text = fsio.read_text(posixpath.join(checkpoint_dir, "metadata"))
        try:
            return str(json.loads(text).get("id", "")) if text else ""
        except ValueError:
            return ""

    def _last_applied(snap: str | None) -> tuple[int, str]:
        """(batch_id, query_id) from the marker of snapshot ``snap``,
        or (-1, '') when there is none."""
        if snap is None:
            return -1, ""
        text = fsio.read_text(posixpath.join(snap, _MARKER)) or ""
        lines = text.strip().splitlines()
        try:
            return int(lines[0]), lines[1] if len(lines) > 1 else ""
        except (ValueError, IndexError):
            return -1, ""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        qid = _query_id()
        current_dir = _resolve_snapshot(state_dir)
        last_batch, last_qid = _last_applied(current_dir)
        if batch_id <= last_batch and (
            not last_qid or not qid or last_qid == qid
        ):
            # replay after a crash past the commit but before the offset
            # commit: the union is idempotent on registers, but
            # rows_seen sums — re-applying would inflate it permanently.
            # A DIFFERENT query id means the checkpoint was reset and
            # batch numbering restarted — that is new data, not a replay.
            # An UNREADABLE query id (qid == '') is treated as unknown
            # and falls back to the batch-id-only guard (ADVICE r5: ''
            # matched neither branch, silently disabling the guard for
            # exactly the replays it exists to stop)
            return
        # F.window drops rows whose time column is NULL (Spark's
        # analyzer adds the filter), so NULL-ts events are windowed
        # through a stand-in time and given a NULL window_start: they
        # keep one NULL-window row instead of vanishing from the state
        ts = F.col(ts_col)
        stand_in = F.lit("1970-01-01").cast(
            batch_df.select(ts).schema[0].dataType
        )
        start = F.window(F.coalesce(ts, stand_in), window).start
        with_window = batch_df.withColumn(
            "window_start", F.when(ts.isNotNull(), start)
        )
        partials = hll_sketch(
            with_window,
            value_col,
            by=["window_start", *keys],
            log2m=log2m,
            estimate=False,
            engine=engine,
        )
        current = None
        if current_dir is not None:
            current = spark.read.parquet(current_dir)
        merged = merge_sketch_tables(
            current, partials, ["window_start", *keys]
        )
        if retention is not None:
            # bound state by EVENT time: drop windows older than the
            # newest window seen minus the retention horizon (one
            # broadcast scalar subquery — no driver collect). Three
            # hardenings from review:
            # - the newest window of the merge is the newest of its
            #   inputs: the stored snapshot's and the batch rows the
            #   sketch keeps (non-null value). Reading the horizon from
            #   those keeps the merge (state read + rollup UDF) one lazy
            #   plan that runs once, with nothing materialized
            # - clamp the anchor to wall-clock now: a single corrupt
            #   far-future timestamp would otherwise advance the horizon
            #   past every legitimate window and wipe the accumulated
            #   state in one commit (the clamp only ever REDUCES
            #   deletion; event-time replays/backfills keep max < now
            #   and are unaffected)
            # - keep the null-window row (events with null ts), which
            #   merge_sketch_tables keeps as a group of its own — a
            #   plain >= filter would drop it as NULL
            seen = with_window.filter(F.col(value_col).isNotNull())
            seen = seen.select("window_start")
            if current is not None:
                seen = seen.unionByName(current.select("window_start"))
            wcol = with_window.schema["window_start"].dataType
            horizon = seen.select(
                (
                    F.least(
                        F.max("window_start"),
                        F.current_timestamp().cast(wcol),
                    )
                    - F.expr(f"INTERVAL {retention}")
                ).alias("__h")
            )
            merged = merged.join(F.broadcast(horizon)).filter(
                (F.col("window_start") >= F.col("__h"))
                | F.col("window_start").isNull()
            ).drop("__h")
        # Iceberg-style commit (module doc): write the new state as an
        # IMMUTABLE snapshot dir, then atomically publish the pointer.
        # The marker lands in the snapshot BEFORE the pointer flips, so
        # no crash point can publish state without its batch id; a crash
        # before the flip leaves an unpointed partial dir that this
        # batch's replay rewrites wholesale (mode=overwrite). Line 2 of
        # the marker pins the checkpoint's query id (see _query_id).
        # version = pointer lineage + 1, NOT the batch id: batch
        # numbering restarts at 0 after a checkpoint reset, and a
        # batch-id-named snapshot would then OVERWRITE a still-live
        # (current or grace-window) snapshot's files under any holder of
        # its lazy plan. The monotonic counter also means a commit never
        # writes into the directory its own merge plan is reading.
        keep, cur_ver = set(), -1
        if current_dir is not None:
            base = posixpath.basename(current_dir)
            keep.add(base)
            if base.startswith(_SNAP) and base[len(_SNAP):].isdigit():
                cur_ver = int(base[len(_SNAP):])
        snap_name = f"{_SNAP}{cur_ver + 1}"
        snap = posixpath.join(state_dir, snap_name)
        merged.write.mode("overwrite").parquet(snap)
        marker = posixpath.join(snap, _MARKER)
        fsio.write_text_atomic(marker, f"{batch_id}\n{qid}")
        fsio.write_text_atomic(posixpath.join(state_dir, _POINTER), snap_name)
        # expire: keep exactly the snapshot just published and the one
        # it superseded (a lazy reader of the previous snapshot gets a
        # one-commit grace window — Iceberg snapshot expiry). Everything
        # else goes: older versions AND unpointed orphans from aborted
        # writes — keying on the POINTER lineage, not version order, so
        # a high-numbered orphan can neither survive forever nor push a
        # live snapshot out of the keep set.
        keep.add(snap_name)
        for name in fsio.list_dir(state_dir):
            if name.startswith(_SNAP) and name not in keep:
                fsio.delete_dir(posixpath.join(state_dir, name))

    return (
        windowed.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_ndv_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current per-window NDV estimates from the persisted sketch table,
    as a LAZY scan of the current IMMUTABLE snapshot (VERDICT r5 #4 —
    no driver collect on the serving path): the ``_current`` pointer is
    resolved here (through ``fsio``, so ``state_dir`` may be a URI), and
    the returned plan reads only that snapshot directory, which the
    writer never renames or rewrites — a commit racing this call
    publishes a NEW directory and leaves this one in place. Snapshot
    expiry keeps current + previous, so the returned DataFrame stays
    valid until two further micro-batches commit; longer-held plans
    should re-call this function for a fresh snapshot (the same contract
    as re-resolving an Iceberg table's snapshot). The brief retry covers
    the pointer's first-ever publish racing this call on a just-started
    stream."""
    import time as _time

    for attempt in range(5):
        snap = _resolve_snapshot(state_dir)
        if snap is not None:
            return (
                spark.read.parquet(snap)
                .withColumn("ndv", hll_cardinality_udf("sketch"))
                .drop("sketch")
            )
        _time.sleep(0.1)
    raise FileNotFoundError(
        f"no committed NDV state under {state_dir} (no _current pointer "
        "to an existing snapshot)"
    )
