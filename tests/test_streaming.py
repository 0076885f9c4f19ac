"""Structured Streaming windowed NDV with watermark + late data
(SURVEY.md §2.2 'streaming'): stream the events table as micro-batched
files, maintain the per-window sketch state table, compare final
estimates to batch exact counts. Late data is just another union — the
sketch monoid needs no retraction."""

from __future__ import annotations

import math
import os
import time

import pytest
from pyspark.sql import functions as F

from js_hll_spark.streaming.ndv import read_ndv_state, streaming_ndv


def test_streaming_windowed_ndv(spark, events, tmp_path):
    src_dir = str(tmp_path / "stream_src")
    state_dir = str(tmp_path / "ndv_state")

    # split events into 4 files written one at a time, deliberately out of
    # time order (file 3 holds the earliest hours -> late data)
    ev = events.withColumn("__bucket", F.pmod(F.col("event_id"), F.lit(4)))
    for i in [1, 2, 3, 0]:
        ev.filter(F.col("__bucket") == i).drop("__bucket").coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        # parquet timestamps load as TIMESTAMP_NTZ; watermarks need TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )

    q = streaming_ndv(
        stream,
        "user_id",
        ts_col="ts",
        window="6 hours",
        state_dir=state_dir,
        watermark="24 hours",
        log2m=12,
    )
    deadline = time.time() + 240
    while time.time() < deadline:
        q.processAllAvailable()
        if os.path.exists(os.path.join(state_dir, "_current")):
            break
        time.sleep(1)
    q.processAllAvailable()
    q.stop()

    est = {
        r["window_start"]: r["ndv"]
        for r in read_ndv_state(spark, state_dir).collect()
    }
    exact = {
        r["w"]["start"]: r["n"]
        for r in events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    bound = 3 * 1.04 / math.sqrt(2 ** 12)
    for w, n in exact.items():
        assert abs(est[w] - n) / max(n, 1) < max(bound, 0.2), (w, est[w], n)

    # rows_seen accounting survived the merges
    total_rows = (
        read_ndv_state(spark, state_dir)
        .agg(F.sum("rows_seen").alias("s"))
        .first()["s"]
    )
    assert total_rows == events.count()


def test_stateful_streaming_ndv(spark, events, tmp_path):
    """applyInPandasWithState variant: per-window NDV maintained in the
    state store; final update-mode rows match batch exact within bound."""
    from js_hll_spark.streaming.stateful import stateful_streaming_ndv

    src_dir = str(tmp_path / "state_src")
    ev = events.withColumn("__bucket", F.pmod(F.col("event_id"), F.lit(3)))
    for i in range(3):
        ev.filter(F.col("__bucket") == i).drop("__bucket").coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stateful_streaming_ndv(
        stream, "user_id", ts_col="ts", window="6 hours", watermark="24 hours",
        log2m=12,
    )
    sink = str(tmp_path / "state_sink")
    q = (
        out.writeStream.format("memory")
        .queryName("ndv_state_test")
        .outputMode("update")
        .option("checkpointLocation", sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # last update per window wins
    rows = spark.sql(
        "select * from ndv_state_test"
    ).collect()
    latest = {}
    for r in rows:
        latest[r["window_start"]] = (r["ndv"], r["rows_seen"])
    exact = {
        r["w"]["start"]: r["n"]
        for r in events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(latest) == set(exact)
    bound = 3 * 1.04 / math.sqrt(2 ** 12)
    for w, n in exact.items():
        assert abs(latest[w][0] - n) / max(n, 1) < max(bound, 0.2)
    total_rows = sum(v[1] for v in latest.values())
    assert total_rows == events.count()


def test_stateful_ndv_event_time_expiry(spark, events, tmp_path):
    """VERDICT r4 stretch: the state-store NDV bounds its state with the
    native event-time timeout. Replaying TIME-ORDERED micro-batches
    under a short watermark must (a) actually remove expired window
    state (stateOperators metrics), (b) emit NO extra timeout rows (a
    duplicate final row would corrupt last-update-wins consumers), and
    (c) leave every final NDV exact vs batch (explicit mode)."""
    import uuid

    from js_hll_spark.streaming.stateful import stateful_streaming_ndv

    src_dir = str(tmp_path / "expiry_src")
    # time-ordered thirds: the watermark advances batch over batch, so
    # early windows fall behind it while the query is still running
    ev = events.orderBy("ts").withColumn(
        "__i", F.monotonically_increasing_id()
    )
    n = ev.count()
    for i in range(3):
        ev.filter(
            (F.col("__i") >= i * n / 3) & (F.col("__i") < (i + 1) * n / 3)
        ).drop("__i").coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stateful_streaming_ndv(
        stream,
        "user_id",
        ts_col="ts",
        window="1 hour",
        watermark="1 hour",
        log2m=13,
        explicit=True,
        expire=True,
    )
    name = f"ndv_expiry_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "expiry_ckpt"))
        .start()
    )
    q.processAllAvailable()
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    q.stop()
    assert removed > 0, "no state was ever expired"

    rows = spark.sql(f"select * from {name}").collect()
    latest = {}
    for r in rows:
        k = r["window_start"]
        if k not in latest or r["rows_seen"] > latest[k][1]:
            latest[k] = (r["ndv"], r["rows_seen"])
    exact = {
        r["w"]["start"]: r["n"]
        for r in events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(latest) == set(exact)
    for w, want in exact.items():
        assert round(latest[w][0]) == want, (w, latest[w][0], want)
    # no duplicated final rows: rows_seen totals reconcile with the table
    assert sum(v[1] for v in latest.values()) == events.count()


def test_state_swap_crash_recovery(spark, events, tmp_path):
    """Crash consistency of the versioned-snapshot commit: a crash that
    leaves an unpointed partial snapshot and a stale pointer tmp must
    not reset NDV state — the next commit republishes the pointer
    (overwriting the tmp) and expires the orphan."""
    src_dir = str(tmp_path / "crash_src")
    state_dir = str(tmp_path / "crash_state")
    ev = events.limit(2000)
    ev.coalesce(1).write.parquet(src_dir)

    def run_once(ckpt):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = streaming_ndv(
            stream,
            "user_id",
            ts_col="ts",
            window="6 hours",
            state_dir=state_dir,
            watermark=None,
            log2m=12,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.processAllAvailable()
        q.stop()

    def ndv_state():
        # rows_seen is a replay counter (not idempotent by design);
        # the recovery contract is about the sketch state -> NDV
        return {
            r["window_start"]: r["ndv"]
            for r in read_ndv_state(spark, state_dir).collect()
        }

    run_once("ckpt1")
    pointer = os.path.join(state_dir, "_current")
    assert os.path.exists(pointer)
    snap = open(pointer).read().strip()
    assert snap.startswith("state.v") and os.path.isdir(
        os.path.join(state_dir, snap)
    )
    before = ndv_state()

    # unpointed partial snapshot from an aborted write (high version —
    # expiry must key on pointer lineage, not version order) and a stale
    # pointer tmp
    os.makedirs(os.path.join(state_dir, "state.v99"))
    with open(pointer + ".tmp", "w") as f:
        f.write("state.v99")
    # duplicate batch through a fresh checkpoint: union idempotent
    run_once("ckpt2")
    assert ndv_state() == before
    assert not os.path.isdir(os.path.join(state_dir, "state.v99"))
    assert not os.path.exists(pointer + ".tmp")


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """The state-bounded streaming dedup variant for 100 TB streams:
    dropDuplicatesWithinWatermark drops re-arrivals inside the watermark
    window while the state store evicts keys older than the watermark —
    duplicates in this bounded replay are all inside the window, so the
    output matches exact DISTINCT."""
    import pyspark.sql.functions as F

    indir = str(tmp_path / "in")
    rows = spark.range(300).select(
        (F.col("id") % 60).alias("key"),  # every key repeats 5x
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    rows.repartition(3).write.parquet(indir)
    stream = (
        spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
        .withWatermark("ts", "10 minutes")
    )
    name = "dedup_wm_sink"
    q = (
        stream.dropDuplicatesWithinWatermark(["key"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["key"] for r in spark.table(name).select("key").collect())
    assert got == list(range(60))


def test_stateful_streaming_heavy_hitters_eviction_invariant(spark, tmp_path):
    """Force eviction with a tiny pool: the space-saving invariant must
    hold — every emitted count >= its true count, and the true top
    token is still reported first (a heavy hitter cannot be displaced
    by a count restart)."""
    import pandas as pd
    from pyspark.sql import Window

    from js_hll_spark.streaming.stateful import stateful_streaming_heavy_hitters

    # skewed stream: 'hot' appears 300x, 200 rare tokens 1-2x each
    rows = [("g", "hot")] * 300 + [
        ("g", f"rare{i}") for i in range(200) for _ in (range(2) if i % 2 else range(1))
    ]
    pdf = pd.DataFrame(rows, columns=["grp", "tok"])
    indir = str(tmp_path / "in")
    spark.createDataFrame(pdf).repartition(3).write.parquet(indir)
    stream = (
        spark.readStream.schema("grp string, tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    out = stateful_streaming_heavy_hitters(
        stream, "tok", keys=["grp"], k=5, pool=8
    )
    q = (
        out.writeStream.format("memory")
        .queryName("hh_evict")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sink = spark.table("hh_evict")
    final_rows = (
        sink.withColumn("__mx", F.max("rows_seen").over(Window.partitionBy("grp")))
        .filter(F.col("rows_seen") == F.col("__mx"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .collect()
    )
    true_counts = pdf.groupby("tok").size()
    assert final_rows[0]["tok"] == "hot" and final_rows[0]["n"] >= 300
    for r in final_rows:
        assert r["n"] >= int(true_counts.get(r["tok"], 0))


def test_replay_marker_travels_with_state(spark, events, tmp_path):
    """ADVICE r3 + r5 review: the applied-batch marker swaps atomically
    WITH the state (written into the snapshot dir before the pointer flips)
    and is BOUND to the streaming checkpoint's query id. Same-checkpoint
    crash replays (the marker's reason to exist) dedupe exactly — pinned
    by resuming from the SAME checkpoint, where Spark replays the
    uncommitted batch. A FRESH checkpoint restarts batch numbering, so
    its batches are treated as new data and re-applied: NDV must stay
    identical (register union is idempotent) while rows_seen doubles —
    the documented at-least-once accounting, chosen because the
    alternative (batch-id-only dedup) silently DROPS genuinely new data
    arriving after a checkpoint reset, which is permanent NDV loss."""
    import os

    src_dir = str(tmp_path / "replay_src")
    state_dir = str(tmp_path / "replay_state")
    ev = events.limit(2000)
    ev.coalesce(1).write.parquet(src_dir)

    def run(ckpt):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = streaming_ndv(
            stream,
            "user_id",
            ts_col="ts",
            window="6 hours",
            state_dir=state_dir,
            watermark=None,
            log2m=12,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.processAllAvailable()
        q.stop()

    run("ck_a")
    from js_hll_spark.streaming.ndv import _resolve_snapshot

    marker = os.path.join(_resolve_snapshot(state_dir), "_applied_batch")
    assert os.path.exists(marker)
    lines = open(marker).read().splitlines()
    assert len(lines) == 2 and lines[1], "marker must pin the query id"
    before = sorted(
        (r["window_start"], r["ndv"], r["rows_seen"])
        for r in read_ndv_state(spark, state_dir).collect()
    )
    # same checkpoint, nothing new: resuming must apply nothing (all
    # batch ids <= marker under the SAME query id)
    run("ck_a")
    same = sorted(
        (r["window_start"], r["ndv"], r["rows_seen"])
        for r in read_ndv_state(spark, state_dir).collect()
    )
    assert same == before
    # fresh checkpoint: batch ids restart at 0 under a NEW query id —
    # new-data semantics: idempotent NDV, at-least-once rows_seen
    run("ck_b")
    after = sorted(
        (r["window_start"], r["ndv"], r["rows_seen"])
        for r in read_ndv_state(spark, state_dir).collect()
    )
    assert [(w, n) for w, n, _ in after] == [(w, n) for w, n, _ in before]
    assert [c for _, _, c in after] == [2 * c for _, _, c in before]


def test_state_retention_bounds_windows(spark, events, tmp_path):
    """retention='N hours' must cap the state table at the trailing
    event-time horizon (state is otherwise one sketch row per (window,
    key) FOREVER — a leak on an unbounded stream), while every window
    inside the horizon keeps exact merge semantics."""
    import os

    src_dir = str(tmp_path / "ret_src")
    full_dir = str(tmp_path / "ret_full")
    capped_dir = str(tmp_path / "ret_capped")
    ev = events.limit(4000)
    ev.coalesce(2).write.parquet(src_dir)

    def run(state_dir, retention, ck):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = streaming_ndv(
            stream,
            "user_id",
            ts_col="ts",
            window="1 hour",
            state_dir=state_dir,
            watermark=None,
            log2m=12,
            checkpoint_dir=str(tmp_path / ck),
            retention=retention,
        )
        q.processAllAvailable()
        q.stop()

    run(full_dir, None, "ck_full")
    run(capped_dir, "6 hours", "ck_capped")
    full = {
        r["window_start"]: (r["ndv"], r["rows_seen"])
        for r in read_ndv_state(spark, full_dir).collect()
    }
    capped = {
        r["window_start"]: (r["ndv"], r["rows_seen"])
        for r in read_ndv_state(spark, capped_dir).collect()
    }
    assert len(full) > len(capped) > 0
    horizon = max(full) - __import__("datetime").timedelta(hours=6)
    kept = {w for w in full if w >= horizon}
    assert set(capped) == kept
    for w in capped:
        assert capped[w] == full[w]  # retained windows merge identically


def test_state_retention_keeps_null_window(spark, events, tmp_path):
    """retention over a stream with NULL-ts events: their NULL-window
    row survives every commit, and every retained window equals the run
    without retention. A NULL-value event in a newer window is not
    sketched, so it must not move the horizon."""
    import datetime

    src_dir = str(tmp_path / "retn_src")
    ev = events.limit(4000)
    ts_type = ev.schema["ts"].dataType
    for i in range(2):
        part = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == i)
        extra = part.limit(40).withColumn("ts", F.lit(None).cast(ts_type))
        if i == 1:
            extra = extra.unionByName(
                part.limit(1)
                .withColumn("ts", F.lit("2024-03-01").cast(ts_type))
                .withColumn("user_id", F.lit(None).cast("bigint"))
            )
        part.unionByName(extra).coalesce(1).write.mode("append").parquet(
            src_dir
        )

    def run(name, retention):
        state_dir = str(tmp_path / name)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = streaming_ndv(
            stream,
            "user_id",
            ts_col="ts",
            window="1 hour",
            state_dir=state_dir,
            watermark=None,
            log2m=12,
            retention=retention,
        )
        q.processAllAvailable()
        q.stop()
        return {
            r["window_start"]: (r["ndv"], r["rows_seen"])
            for r in read_ndv_state(spark, state_dir).collect()
        }

    full = run("retn_full", None)
    capped = run("retn_capped", "6 hours")
    assert full[None][1] == 80  # the 40 NULL-ts events of each batch
    dated = [w for w in full if w is not None]
    horizon = max(dated) - datetime.timedelta(hours=6)
    assert set(capped) == {w for w in dated if w >= horizon} | {None}
    for w in capped:
        assert capped[w] == full[w]


def test_file_uri_state_dir_matches_plain_path(spark, events, tmp_path):
    """The state store speaks filesystem URIs: the same stream over a
    ``file://`` state_dir (pointer, replay marker, expiry and the
    checkpoint's query id all resolved through the URI) commits the
    same (window_start, ndv, rows_seen) rows as over a plain path."""
    src_dir = str(tmp_path / "uri_src")
    ev = events.limit(3000).withColumn(
        "__b", F.pmod(F.col("event_id"), F.lit(3))
    )
    for i in range(3):
        ev.filter(F.col("__b") == i).drop("__b").coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    def run(state_dir):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = streaming_ndv(
            stream,
            "user_id",
            ts_col="ts",
            window="6 hours",
            state_dir=state_dir,
            watermark=None,
            log2m=12,
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            (r["window_start"], r["ndv"], r["rows_seen"])
            for r in read_ndv_state(spark, state_dir).collect()
        )

    plain = run(str(tmp_path / "plain_state"))
    uri_dir = tmp_path / "uri_state"
    assert run(uri_dir.as_uri()) == plain and plain
    # the state sits in the local directory the URI names, and expiry
    # kept the last two of the three commits' snapshots
    snaps = sorted(e for e in os.listdir(uri_dir) if e.startswith("state."))
    assert snaps == ["state.v1", "state.v2"]


def test_snapshot_reader_survives_one_commit(spark, events, tmp_path):
    """The keep-2 snapshot-expiry contract: a LAZY read_ndv_state plan
    taken before a commit must still collect cleanly after ONE further
    micro-batch commits (its snapshot survives as 'previous'), and a
    fresh resolve after the commit must see the new snapshot."""
    src_dir = str(tmp_path / "grace_src")
    state_dir = str(tmp_path / "grace_state")
    ev = events.limit(3000).withColumn(
        "__b", F.pmod(F.col("event_id"), F.lit(2))
    )
    for i in range(2):
        ev.filter(F.col("__b") == i).drop("__b").coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    def run(ckpt, max_files):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = streaming_ndv(
            stream,
            "user_id",
            ts_col="ts",
            window="6 hours",
            state_dir=state_dir,
            watermark=None,
            log2m=12,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.processAllAvailable()
        q.stop()

    # first run commits both files' batches; take a lazy plan
    run("g_ck1", 2)
    held = read_ndv_state(spark, state_dir)
    # exactly ONE further commit: append one new file and RESUME the
    # same checkpoint (only the new file is a new batch)
    ev.filter(F.col("__b") == 0).drop("__b").limit(500).coalesce(
        1
    ).write.mode("append").parquet(src_dir)
    run("g_ck1", 3)
    # the held plan's snapshot is now 'previous' — must still collect
    held_rows = {r["window_start"]: r["ndv"] for r in held.collect()}
    assert held_rows
    fresh_df = read_ndv_state(spark, state_dir)
    fresh = {
        r["window_start"]: r["ndv"] for r in fresh_df.collect()
    }
    # the third file duplicates existing rows: register union is
    # idempotent, so NDVs agree while the snapshot itself is newer
    assert held_rows == fresh
    assert set(held.inputFiles()) != set(fresh_df.inputFiles())

    # checkpoint RESET: batch numbering restarts at 0, but snapshot
    # versions are pointer-lineage-monotonic — a reset's first commit
    # must publish version N+1, NOT state.v0 (batch-id naming would
    # eventually overwrite a still-held snapshot's files in place; the
    # bug this test was written for). Reset source = one file -> one
    # commit, so the held plan also stays inside its grace window.
    held2 = read_ndv_state(spark, state_dir)
    before_ver = open(os.path.join(state_dir, "_current")).read().strip()
    reset_src = str(tmp_path / "grace_src2")
    ev.filter(F.col("__b") == 1).drop("__b").limit(500).coalesce(
        1
    ).write.parquet(reset_src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(reset_src)
    )
    q = streaming_ndv(
        stream,
        "user_id",
        ts_col="ts",
        window="6 hours",
        state_dir=state_dir,
        watermark=None,
        log2m=12,
        checkpoint_dir=str(tmp_path / "g_ck_reset"),
    )
    q.processAllAvailable()
    q.stop()
    after_ver = open(os.path.join(state_dir, "_current")).read().strip()
    assert int(after_ver[7:]) == int(before_ver[7:]) + 1, (before_ver, after_ver)
    assert {r["window_start"]: r["ndv"] for r in held2.collect()} == held_rows
