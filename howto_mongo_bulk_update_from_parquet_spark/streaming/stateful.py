"""Keyed streaming state over the events stream.

First-seen dedup (`stream_first_seen`) emits each (user_id,
event_type) the first time it appears in the stream and suppresses
every later occurrence — the streaming form of the training-data-
pipeline "emit only novel examples" pattern. It runs entirely in the
JVM: a `foreachBatch` sink takes each micro-batch's per-key arg-min
and anti-joins it against the keys emitted so far, so no Python worker
sees a row and no state store is involved.

The TTL variant (`first_seen_ttl_query`) and the threshold alarm
(`stream_threshold_alarm`) need event-time eviction or a numeric
accumulator, so they keep their `applyInPandasWithState` kernels:
state per key is a boolean (or running sum), bounded by key
cardinality, and survives across micro-batches via the state store.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("first_event_id", T.LongType()),
    T.StructField("first_ts", T.TimestampType()),
])

STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])

_KEYS = ("user_id", "event_type")


def _argmin_ts_eid(pdf):
    """(min ts, min event_id among its ties) of one batch — numpy
    reductions instead of a per-group pandas sort: this function runs
    ONCE PER GROUP (applyInPandasWithState calls the kernel per key),
    so its constant factor multiplies by the key-universe size; the
    sort_values form measured ~5× the numpy min (guide §4.2: hand
    whole batches to vectorized native code)."""
    ts = pdf["ts"].to_numpy()
    tmin = ts.min()
    eid = int(pdf["event_id"].to_numpy()[ts == tmin].min())
    return tmin, eid


def first_seen_stream(events: DataFrame) -> DataFrame:
    """Drain an events stream (availableNow) into the first occurrence
    of each (user_id, event_type), without Python and without a state
    store; returns the emitted rows (OUTPUT_SCHEMA).

    Per micro-batch (`foreachBatch`): group by the key and take
    `min(struct(ts, event_id))` — the `ts`-then-`event_id` tie-break
    of the batch ROW_NUMBER oracle — then anti-join against the keys
    emitted so far with NULL-safe key equality (a plain `==` would
    re-emit a NULL key every batch) and union the survivors in. The
    emitted set is both the seen index and the result: append-only,
    each key emitted once with the arg-min of the first batch holding
    it, never re-emitted by a later batch (even with an earlier
    `ts`), and a replayed epoch adds nothing. It is materialized once
    per batch (`localCheckpoint`) so its plan stays one scan deep
    across batches and the result outlives the stream's source files."""
    # seeded with an empty relation the optimizer prunes (limit 0), so
    # the first batch plans neither the anti-join nor the union
    emitted = [events.sparkSession.createDataFrame([], OUTPUT_SCHEMA).limit(0)]

    def emit_new(batch: DataFrame, _batch_id: int) -> None:
        first = (batch.groupBy(*_KEYS)
                 .agg(F.min(F.struct("ts", "event_id")).alias("m"))
                 .select(*_KEYS, F.col("m.event_id").alias("first_event_id"),
                         F.col("m.ts").alias("first_ts")))
        seen = emitted[0]
        new = first.join(seen, [first[k].eqNullSafe(seen[k]) for k in _KEYS],
                         "left_anti")
        # the union appends partitions every batch: cap them at the
        # shuffle width, as a state store would be
        width = int(batch.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        emitted[0] = seen.unionByName(new).coalesce(width).localCheckpoint()

    (events.select(*_KEYS, "ts", "event_id").writeStream
     .foreachBatch(emit_new).trigger(availableNow=True).start()
     .awaitTermination())
    return emitted[0]


def stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First occurrence of each (user, event_type) over the staged
    events stream (see `first_seen_stream`)."""
    from .jobs import _stage_events_stream
    events, stage = _stage_events_stream(spark, sf_dir)
    try:
        return first_seen_stream(events)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _python_state_width(spark: SparkSession) -> int | None:
    """Python-stateful operators (applyInPandasWithState) run one Arrow
    stream + one Python worker PER state partition — unlike JVM window
    state, their wall-clock scales with partition count up to the core
    count (measured ~1.8× at 32 vs 8 on local[32]). Default the width
    to the session's parallelism; an explicit conf/env channel
    (resolve_state_partitions) still wins so operators can apply the
    keys-per-store rule when the key universe dominates."""
    from .jobs import STATE_PARTITIONS_CONF, STATE_PARTITIONS_ENV
    if spark.conf.get(STATE_PARTITIONS_CONF, None) or os.environ.get(STATE_PARTITIONS_ENV):
        return None  # explicit channels keep priority
    return spark.sparkContext.defaultParallelism


def _make_first_seen_ttl(ttl_minutes: int):
    """First-seen dedup whose per-key state EXPIRES `ttl_minutes` of
    event time after the key's last activity — state is bounded in
    TIME, not only by key cardinality. After eviction a re-arriving
    key is emitted again (a new "first seen" for its era)."""
    ttl_ms = ttl_minutes * 60_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd
        if state.hasTimedOut:
            # watermark passed last_activity + TTL: evict
            state.remove()
            return
        seen = bool(state.exists and state.get[0])
        best = None
        max_ts = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = _argmin_ts_eid(pdf)
            if best is None or cand < best:
                best = cand
            batch_max = pdf["ts"].to_numpy().max()
            if max_ts is None or batch_max > max_ts:
                max_ts = batch_max
        if max_ts is None:
            return
        state.update((True,))
        # extend the lease: expire TTL after the newest activity (a
        # timeout in the past is illegal — clamp past the watermark for
        # very late keys, which then expire at the next batch boundary)
        max_ts_ms = int(max_ts.astype("datetime64[ns]")
                        .astype("int64")) // 1_000_000
        timeout_ms = max(max_ts_ms + ttl_ms,
                         state.getCurrentWatermarkMs() + 1)
        state.setTimeoutTimestamp(timeout_ms)
        if not seen:
            yield pd.DataFrame({"user_id": [key[0]], "event_type": [key[1]],
                                "first_event_id": [best[1]],
                                "first_ts": [best[0]]})

    return fn


def first_seen_ttl_query(events: DataFrame, *, ttl_minutes: int = 60,
                         watermark: str = "10 minutes") -> DataFrame:
    """The watermarked-TTL first-seen stream transformation (caller
    owns source/sink). EventTimeTimeout requires the watermark: state
    for a key is dropped once the watermark passes its last activity +
    TTL, so total state ≈ keys active within one TTL window — bounded
    even over an unbounded key universe."""
    return (events.withWatermark("ts", watermark)
            .groupBy("user_id", "event_type")
            .applyInPandasWithState(_make_first_seen_ttl(ttl_minutes),
                                    OUTPUT_SCHEMA, STATE_SCHEMA, "append",
                                    GroupStateTimeout.EventTimeTimeout))


def stream_first_seen_ttl(spark: SparkSession, sf_dir: str,
                          ttl_minutes: int = 24 * 60) -> DataFrame:
    """First-seen dedup with time-bounded state over the staged events.
    With the generous default TTL nothing expires inside the staged
    window, so the result still equals the batch arg-min oracle — the
    eviction behavior itself is exercised by
    tests/test_streaming.py with a multi-batch run."""
    from .jobs import _run_to_memory, _stage_events_stream, scoped_state_partitions
    events, stage = _stage_events_stream(spark, sf_dir)
    events = events.select("user_id", "event_type", "ts", "event_id")
    with scoped_state_partitions(spark, _python_state_width(spark)):
        return _run_to_memory(
            first_seen_ttl_query(events, ttl_minutes=ttl_minutes),
            "append", stage)


# ---------------------------------------------------------------------------
# Budget/threshold alarm: per-user running spend accumulates in keyed
# state; the FIRST micro-batch in which it reaches the threshold emits
# one alarm row, later batches stay silent. Unlike first-seen's
# boolean, the state is a NUMERIC accumulator — the canonical
# "metering" stateful shape (spend alerts, quota enforcement, rate
# caps).
#
# Oracle-exactness across batch boundaries: spend is converted to
# integer CENTS in Spark BEFORE the stateful exchange
# (ROUND(value*100) cast long — never rounded inside the kernel, so
# the half-up/half-even rounding-mode trap from the r5 advice can't
# reappear here), and positive amounts sum order-independently — the
# crossed-user SET is identical however the stream is batched, which
# is exactly what the batch HAVING oracle states.
# ---------------------------------------------------------------------------

ALARM_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("threshold_cents", T.LongType()),
])

ALARM_STATE_SCHEMA = T.StructType([
    T.StructField("cents", T.LongType()),
    T.StructField("fired", T.BooleanType()),
])


def _make_threshold_alarm(threshold_cents: int):
    def fold(key, pdfs, state: GroupState):
        import pandas as pd
        cents, fired = state.get if state.exists else (0, False)
        if fired:
            for _ in pdfs:
                pass
            return
        for pdf in pdfs:
            if len(pdf):
                cents += int(pdf["cents"].sum())
        if cents >= threshold_cents:
            state.update((cents, True))
            yield pd.DataFrame({"user_id": [key[0]],
                                "threshold_cents": [threshold_cents]})
        else:
            state.update((cents, False))
    return fold


def stream_threshold_alarm(spark: SparkSession, sf_dir: str,
                           threshold_cents: int = 350_000) -> DataFrame:
    from .jobs import _run_to_memory, _stage_events_stream, scoped_state_partitions
    events, stage = _stage_events_stream(spark, sf_dir)
    spend = (events.filter(F.col("value") > 0)
             .select("user_id",
                     F.round(F.col("value") * 100, 0).cast("long")
                      .alias("cents")))
    out = (spend.groupBy("user_id")
           .applyInPandasWithState(_make_threshold_alarm(threshold_cents),
                                   ALARM_OUTPUT_SCHEMA, ALARM_STATE_SCHEMA,
                                   "append", GroupStateTimeout.NoTimeout))
    with scoped_state_partitions(spark, _python_state_width(spark)):
        return _run_to_memory(out, "append", stage)
