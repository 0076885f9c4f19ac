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
directory ``state.v{batch_id}`` and atomically publishes a pointer file
``_current`` (write-tmp + ``os.replace``); readers resolve the pointer
and lazily scan the pointed snapshot — no renames under a reader, no
driver collect on the serving path. Snapshots older than the previous
one are expired after each commit (Iceberg snapshot expiry), so a lazy
reader keeps a one-micro-batch grace window; a plan held across two or
more later commits may see expired files — re-call
``read_ndv_state`` for a fresh snapshot, exactly as an Iceberg reader
re-resolves the table's current snapshot.
"""

from __future__ import annotations

import os
import shutil
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.hll import HLL
from ..spark.agg import hll_sketch
from ..spark.blocks import checkpoint_rdd_id, unpersist_by_id
from ..spark.functions import hll_cardinality_udf


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
    the ``_current`` pointer file when present (versioned layout), else
    the legacy ``state/`` directory, else None. The pointer's target is
    validated to exist — a pointer published just before a crash that
    lost its snapshot must fall through to the legacy dir rather than
    return a dangling path."""
    try:
        with open(os.path.join(state_dir, "_current")) as f:
            target = f.read().strip()
        if target:
            p = os.path.join(state_dir, target)
            if os.path.isdir(p):
                return p
    except OSError:
        pass
    legacy = os.path.join(state_dir, "state")
    return legacy if os.path.isdir(legacy) else None


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
    """
    spark = stream.sparkSession
    keys = list(keys)
    state_path = os.path.join(state_dir, "state")  # legacy (pre-r6) layout
    pointer_path = os.path.join(state_dir, "_current")
    checkpoint_dir = checkpoint_dir or os.path.join(state_dir, "_checkpoint")

    windowed = (
        stream.withWatermark(ts_col, watermark) if watermark else stream
    )

    # replay marker lives INSIDE the state dir (Spark hides underscore
    # files from parquet file listings), so it swaps atomically WITH the
    # state: a crash between rename(tmp -> state) and a separate marker
    # write used to double-apply the batch on restart, permanently
    # inflating rows_seen (ADVICE r3 — exactly the failure mode the
    # marker exists to prevent; ndv itself stayed correct since register
    # union is idempotent)
    marker_name = "_applied_batch"

    def _query_id() -> str:
        # the streaming checkpoint's stable query id ("id" persists for
        # the checkpoint's lifetime; "runId" changes per restart). A
        # RESET checkpoint mints a new id, which must invalidate the
        # replay marker: batch ids restart at 0 after a reset, and a
        # marker compared on batch id alone would silently drop the
        # first N batches of genuinely NEW data as "replays".
        import json as _json

        try:
            with open(os.path.join(checkpoint_dir, "metadata")) as f:
                return str(_json.load(f).get("id", ""))
        except (OSError, ValueError):
            return ""

    def recover_state() -> None:
        # legacy (pre-r6 rename-swap layout) crash repair, kept so a
        # state dir written by older code upgrades losslessly: a crash
        # between rename(state -> old) and rename(tmp -> state) leaves
        # only .old — restore it; an orphaned .old beside a live state
        # is garbage, as are stale .tmp* dirs from aborted writes. The
        # versioned layout needs no repair here — a partially-written
        # snapshot dir is simply never pointed to (and is rewritten
        # wholesale when its batch replays) — only a stale pointer tmp
        # to sweep.
        old = state_path + ".old"
        if not os.path.exists(state_path) and os.path.exists(old):
            os.rename(old, state_path)
        elif os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)
        parent = os.path.dirname(state_path)
        base = os.path.basename(state_path)
        for entry in os.listdir(parent) if os.path.isdir(parent) else ():
            if entry.startswith(base + ".tmp"):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        try:
            os.remove(pointer_path + ".tmp")
        except OSError:
            pass

    def _last_applied() -> tuple[int, str]:
        """(batch_id, query_id) of the last applied batch; query_id is
        '' for markers written before it was recorded (those keep the
        legacy batch-id-only semantics)."""
        current = _resolve_snapshot(state_dir)
        if current is not None:
            try:
                with open(os.path.join(current, marker_name)) as f:
                    lines = f.read().strip().splitlines()
                    return int(lines[0]), lines[1] if len(lines) > 1 else ""
            except (OSError, ValueError, IndexError):
                pass
        # legacy layout (pre-r4): marker sat beside the state dir; a
        # state dir written by older code must not lose its replay
        # protection across the upgrade. Honored ONLY while that state
        # still exists — after an operator wipes state/ to recompute
        # from scratch, a stale sibling marker must not silently drop
        # the replayed batches (the first commit migrates it away).
        if os.path.isdir(state_path):
            try:
                with open(os.path.join(state_dir, marker_name)) as f:
                    return int(f.read().strip()), ""
            except (OSError, ValueError):
                pass
        return -1, ""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # recovery FIRST: a mid-swap crash must be repaired even while
        # only empty micro-batches arrive, or readers see no state dir
        # until the next non-empty batch
        recover_state()
        if batch_df.isEmpty():
            return
        qid = _query_id()
        last_batch, last_qid = _last_applied()
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
        with_window = batch_df.withColumn(
            "window_start", F.window(ts_col, window).start
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
        current_dir = _resolve_snapshot(state_dir)
        if current_dir is not None:
            current = spark.read.parquet(current_dir)
        merged = merge_sketch_tables(
            current, partials, ["window_start", *keys]
        )
        retire = []
        if retention is not None:
            # bound state by EVENT time: drop windows older than the
            # newest window seen minus the retention horizon (one
            # broadcast scalar subquery — no driver collect). Three
            # hardenings from review:
            # - materialize merged first, or the horizon aggregate and
            #   the filter would each re-run the whole merge subtree
            #   (state read + rollup UDF) — 2x the batch cost
            # - clamp the anchor to wall-clock now: a single corrupt
            #   far-future timestamp would otherwise advance the horizon
            #   past every legitimate window and wipe the accumulated
            #   state in one swap (the clamp only ever REDUCES deletion;
            #   event-time replays/backfills keep max < now and are
            #   unaffected)
            # - keep the null-window row (events with null ts), which
            #   merge_sketch_tables deliberately preserves via
            #   eqNullSafe — a plain >= filter would drop it as NULL
            merged = merged.localCheckpoint()
            retire.append(checkpoint_rdd_id(merged))
            wcol = merged.schema["window_start"].dataType
            horizon = merged.select(
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
        try:
            # Iceberg-style commit (module doc): write the new state as
            # an IMMUTABLE snapshot dir, then atomically publish the
            # pointer. The marker lands in the snapshot BEFORE the
            # pointer flips, so no crash point can publish state without
            # its batch id; a crash before the flip leaves an unpointed
            # partial dir that this batch's replay rewrites wholesale
            # (mode=overwrite). Line 2 of the marker pins the
            # checkpoint's query id (see _query_id).
            # version = pointer lineage + 1, NOT the batch id: batch
            # numbering restarts at 0 after a checkpoint reset, and a
            # batch-id-named snapshot would then OVERWRITE a still-live
            # (current or grace-window) snapshot's files under any
            # holder of its lazy plan. The monotonic counter also means
            # a commit never writes into the directory its own merge
            # plan is reading.
            cur_ver = -1
            if current_dir is not None:
                base = os.path.basename(current_dir)
                if base.startswith("state.v") and base[7:].isdigit():
                    cur_ver = int(base[7:])
            snap_name = f"state.v{cur_ver + 1}"
            snap = os.path.join(state_dir, snap_name)
            merged.write.mode("overwrite").parquet(snap)
            with open(os.path.join(snap, marker_name), "w") as f:
                f.write(f"{batch_id}\n{qid}")
            ptmp = pointer_path + ".tmp"
            with open(ptmp, "w") as f:
                f.write(snap_name)
            os.replace(ptmp, pointer_path)  # atomic publish
            # expire: keep exactly the snapshot just published and the
            # one it superseded (a lazy reader of the previous snapshot
            # gets a one-commit grace window — Iceberg snapshot expiry).
            # Everything else goes: older versions AND unpointed orphans
            # from aborted writes — keying on the POINTER lineage, not
            # version order, so a high-numbered orphan can neither
            # survive forever nor push a live snapshot out of the keep
            # set. Also superseded: the legacy state/ dir and the legacy
            # sibling marker (the in-snapshot marker owns replay
            # protection).
            keep = {snap_name}
            if current_dir is not None:
                keep.add(os.path.basename(current_dir))
            for entry in os.listdir(state_dir):
                if entry.startswith("state.v") and entry not in keep:
                    shutil.rmtree(
                        os.path.join(state_dir, entry), ignore_errors=True
                    )
            shutil.rmtree(state_path, ignore_errors=True)
            try:
                os.remove(os.path.join(state_dir, marker_name))
            except OSError:
                pass
        finally:
            # the swap consumed the checkpoints — release them, or a
            # long-running stream pins one retired copy per micro-batch
            for rid in retire:
                unpersist_by_id(spark, rid)

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
    resolved here, and the returned plan reads only that snapshot
    directory, which the writer never renames or rewrites — a commit
    racing this call publishes a NEW directory and leaves this one in
    place. Snapshot expiry keeps current + previous, so the returned
    DataFrame stays valid until two further micro-batches commit;
    longer-held plans should re-call this function for a fresh snapshot
    (the same contract as re-resolving an Iceberg table's snapshot).
    The brief retry covers the pointer's first-ever publish racing this
    call on a just-started stream; legacy (pre-r6) ``state/`` layouts
    are read directly, with the one-time upgrade caveat that the first
    versioned commit removes the legacy dir under any still-held legacy
    plan."""
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
        "target and no legacy state/ directory)"
    )
