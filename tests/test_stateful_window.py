"""The state-store NDV operator windows events through the same helper as
the foreachBatch one: NULL-time events keep one NULL-window row per key,
and with expiry on, each window's timeout (window end + lateness) is
computed in Catalyst, so any interval Spark parses is a valid lateness
and the session time zone does not move it."""

from __future__ import annotations

import datetime
import uuid

import pytest
from pyspark.sql import functions as F

from js_hll_spark.streaming.stateful import stateful_streaming_ndv


def _run(spark, src_dir, schema, ckpt, **kw):
    """Drain the file stream through ``stateful_streaming_ndv``; returns
    (last row per (window_start, grp...) key, numRowsRemoved per batch)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    name = f"stateful_win_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_streaming_ndv(stream, "user_id", ts_col="ts", **kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        removed = [
            sum(op.get("numRowsRemoved", 0) for op in p.get("stateOperators", []))
            for p in q.recentProgress
        ]
    finally:
        q.stop()
    keys = [c for c in spark.table(name).columns if c not in ("ndv", "rows_seen")]
    latest = {}
    for r in spark.table(name).collect():
        k = tuple(r[c] for c in keys)
        if k not in latest or r["rows_seen"] > latest[k][1]:
            latest[k] = (r["ndv"], r["rows_seen"])
    return latest, removed


@pytest.mark.parametrize("expire", [False, True])
@pytest.mark.parametrize("explicit", [True, False])
def test_null_time_events_form_one_null_window_per_key(
    spark, tmp_path, expire, explicit
):
    """Events with a NULL ts are counted: each key gets one NULL-window
    row whose rows_seen counts them and whose ndv is their distinct count
    (the analyzer's isnotnull filter under a bare F.window dropped them)."""
    t0 = datetime.datetime(2024, 3, 1, 10, 15)
    rows = [
        ("a", 1, t0), ("a", 2, t0), ("b", 1, t0),
        ("a", 3, None), ("a", 4, None), ("a", 4, None),
        ("b", 7, None), ("b", 7, None),
        ("a", None, None),  # a NULL value is not a distinct value
    ]
    schema = "grp string, user_id bigint, ts timestamp"
    src_dir = str(tmp_path / "src")
    for part in (rows[:5], rows[5:]):
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    latest, _ = _run(
        spark, src_dir, schema, str(tmp_path / "ckpt"),
        keys=["grp"], window="1 hour", watermark="1 hour",
        log2m=12, explicit=explicit, expire=expire,
    )
    hour = datetime.datetime(2024, 3, 1, 10)
    assert set(latest) == {(hour, "a"), (hour, "b"), (None, "a"), (None, "b")}
    got = {k: (round(n), seen) for k, (n, seen) in latest.items()}
    assert got[(None, "a")] == (2, 3)
    assert got[(None, "b")] == (1, 2)
    assert got[(hour, "a")] == (2, 2) and got[(hour, "b")] == (1, 1)
    if explicit:
        assert latest[(None, "a")][0] == 2.0


def test_compound_lateness_expires_state_in_any_session_time_zone(
    spark, events, tmp_path
):
    """lateness takes Spark's interval grammar ('1 hour 30 minutes'),
    expiry removes state while every final NDV stays exact, and a
    non-UTC session removes the same state per batch as a UTC one."""
    src_dir = str(tmp_path / "src")
    ev = events.orderBy("ts").withColumn("__i", F.monotonically_increasing_id())
    n = ev.count()
    for i in range(3):
        ev.filter(
            (F.col("__i") >= i * n / 3) & (F.col("__i") < (i + 1) * n / 3)
        ).drop("__i").coalesce(1).write.mode("append").parquet(src_dir)

    def run(tz):
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            return _run(
                spark, src_dir, events.schema, str(tmp_path / f"ck_{tz[:3]}"),
                window="1 hour", watermark="1 hour", log2m=13,
                explicit=True, expire=True, lateness="1 hour 30 minutes",
            )
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)

    latest, removed = run("UTC")
    assert sum(removed) > 0, "no state was ever expired"
    exact = {
        r["w"]["start"]: r["n"]
        for r in events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {k[0] for k in latest} == set(exact)
    for (w,), (ndv, _) in latest.items():
        assert ndv == exact[w], (w, ndv, exact[w])
    assert sum(seen for _, seen in latest.values()) == n
    _, removed_la = run("America/Los_Angeles")
    assert removed_la == removed
