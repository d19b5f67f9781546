"""Tests for Structured Streaming jobs: the streaming results must
equal their batch counterparts over the same staged input."""

from pyspark.sql import functions as F

from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import load_table
from howto_mongo_bulk_update_from_parquet_spark.streaming.jobs import (
    resolve_state_partitions, scoped_state_partitions, stream_dedup_events,
    stream_session_windows, stream_stream_left_join, stream_tumbling_counts)

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_equals_batch_closed_windows(spark):
    """Append mode emits exactly the watermark-closed windows: the
    batch aggregation restricted to windows ending at or before
    max(ts) - 10min (the final watermark)."""
    streamed = (stream_tumbling_counts(spark, SF)
                .orderBy("window_start", "event_type").toPandas())
    events = load_table(spark, SF, "events")
    wm = F.lit(events.agg(F.max("ts")).collect()[0][0]) - F.expr("interval 10 minutes")
    batch = (events
             .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
             .filter(F.col("w.end") <= wm)
             .select(F.col("w.start").alias("window_start"), "event_type",
                     "n_events", "sum_value")
             .orderBy("window_start", "event_type").toPandas())
    assert len(streamed) > 0
    assert streamed.equals(batch)


def test_stream_stream_left_join_null_emission(spark):
    """LEFT OUTER stream-stream join: matched pairs equal the batch
    inner join; unmatched views are emitted with NULLs exactly when
    the final watermark passed their state-expiry point
    (view_ts + 30min < min(max view_ts, max buy_ts) - 10min)."""
    out = stream_stream_left_join(spark, SF).toPandas()
    events = load_table(spark, SF, "events")
    views = (events.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts")))
    buys = (events.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("b_user"),
                    F.col("event_id").alias("buy_id"),
                    F.col("ts").alias("buy_ts")))
    inner = views.join(
        buys, (F.col("v_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("interval 30 minutes")))
    matched = out[out.buy_id.notna()]
    assert len(matched) == inner.count()
    max_v = views.agg(F.max("view_ts")).collect()[0][0]
    max_b = buys.agg(F.max("buy_ts")).collect()[0][0]
    wm = min(max_v, max_b)
    import datetime
    cutoff = wm - datetime.timedelta(minutes=10) - datetime.timedelta(minutes=30)
    unmatched = (views.join(inner.select("view_id"), "view_id", "left_anti")
                 .filter(F.col("view_ts") < F.lit(cutoff)))
    nulls = out[out.buy_id.isna()]
    assert len(nulls) == unmatched.count()
    assert set(nulls.view_id) == {r.view_id for r in unmatched.collect()}


def test_state_partitions_resolution(spark):
    """Width resolution: explicit arg > session conf > env > default,
    and scoped_state_partitions applies/restores the chosen width."""
    import os
    from howto_mongo_bulk_update_from_parquet_spark.streaming import jobs
    assert resolve_state_partitions(spark) == jobs.DEFAULT_STATE_PARTITIONS
    assert resolve_state_partitions(spark, 3) == 3
    os.environ[jobs.STATE_PARTITIONS_ENV] = "5"
    try:
        assert resolve_state_partitions(spark) == 5
        spark.conf.set(jobs.STATE_PARTITIONS_CONF, "12")
        try:
            assert resolve_state_partitions(spark) == 12     # conf beats env
            assert resolve_state_partitions(spark, 3) == 3   # arg beats conf
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            with scoped_state_partitions(spark):
                assert spark.conf.get("spark.sql.shuffle.partitions") == "12"
            assert spark.conf.get("spark.sql.shuffle.partitions") == prev
        finally:
            spark.conf.unset(jobs.STATE_PARTITIONS_CONF)
    finally:
        del os.environ[jobs.STATE_PARTITIONS_ENV]


def test_stream_dedup_exactly_once_under_redelivery(spark):
    """Every event is delivered twice (at-least-once source emulation);
    dropDuplicatesWithinWatermark must emit each event_id exactly once
    and recover the original set row-identically."""
    out = stream_dedup_events(spark, SF).toPandas()
    batch = (load_table(spark, SF, "events")
             .select("event_id", "ts", "user_id", "event_type", "value")
             .toPandas())
    assert len(out) == len(batch)                 # doubled input, no growth
    assert out.event_id.is_unique
    key = ["event_id", "ts", "user_id", "event_type", "value"]
    assert (out.sort_values("event_id").reset_index(drop=True)[key]
            .equals(batch.sort_values("event_id").reset_index(drop=True)[key]))


def test_rocksdb_state_store_provider_runs(spark):
    """PLANS.md names RocksDB as the 100× state-store option (per-store
    state on local disk instead of the JVM heap). Prove the option
    actually works in this build: the same tumbling-window job under
    the RocksDB provider produces the identical result set."""
    baseline = (stream_tumbling_counts(spark, SF)
                .orderBy("window_start", "event_type").toPandas())
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try:
        rocks = (stream_tumbling_counts(spark, SF)
                 .orderBy("window_start", "event_type").toPandas())
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert len(rocks) > 0
    assert rocks.equals(baseline)


def test_stream_sessions_respect_gap(spark):
    out = stream_session_windows(spark, SF).toPandas()
    assert len(out) > 0
    # session length = end - start ≥ the 30-min gap tail
    dur = (out.session_end - out.session_start).dt.total_seconds()
    assert (dur >= 1800).all()
    # sessions of one user never overlap
    for _, g in out.groupby("user_id"):
        g = g.sort_values("session_start")
        assert (g.session_start.shift(-1)[:-1].to_numpy()
                >= g.session_end[:-1].to_numpy()).all()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics across a checkpointed restart: run 1 sets
    the watermark to 12:20; run 2 carries a 00:00 row that is older
    than the recovered watermark and must be dropped (its window never
    reaches the sink), while the now-finalized 12:00 window emits.

    (Within a single availableNow run the batch plan is computed up
    front, so the watermark only takes effect at the NEXT planning —
    hence the two-run shape; file sink because memory sinks can't
    recover from a checkpoint.)"""
    import os
    from pyspark.sql import functions as F, types as T
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("v", T.LongType())])
    stage = os.path.join(str(tmp_path), "wm_in")
    ckpt = os.path.join(str(tmp_path), "wm_ckpt")
    out = os.path.join(str(tmp_path), "wm_out")
    os.makedirs(stage)

    def write(rows, name):
        (spark.createDataFrame(rows, "ts string, v long")
         .select(F.col("ts").cast("timestamp"), "v")
         .coalesce(1).write.parquet(os.path.join(stage, name)))

    def run():
        stream = spark.readStream.schema(schema).parquet(os.path.join(stage, "*"))
        agg = (stream.withWatermark("ts", "10 minutes")
               .groupBy(F.window("ts", "1 hour").alias("w"))
               .agg(F.sum("v").alias("total"))
               .select(F.col("w.start").alias("ws"), "total"))
        q = (agg.writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sorted((r.ws, r.total) for r in spark.read.parquet(out).collect())

    write([("2024-01-01 12:00:00", 1), ("2024-01-01 12:30:00", 2)], "f1")
    assert run() == []                        # nothing finalized yet
    write([("2024-01-01 00:00:00", 99), ("2024-01-01 14:05:00", 3)], "f2")
    result = run()
    hours = [ws.hour for ws, _ in result]
    assert 0 not in hours                     # late row dropped
    assert result == [(result[0][0], 3)] and result[0][0].hour == 12


def test_rate_source_windowed_counts(spark):
    """Source swap: the same windowed aggregation shape runs on the
    built-in rate source (stand-in for Kafka in this environment) —
    nothing in the transformation is file-specific."""
    import uuid
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "500").load()
              .withColumn("bucket", F.col("value") % 5))
    agg = (stream.withWatermark("timestamp", "1 second")
           .groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("n")))
    name = f"rate_out_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(name).start())
    try:
        import time
        deadline = time.time() + 20
        while time.time() < deadline:
            rows = spark.table(name).collect()
            if len(rows) == 5 and sum(r.n for r in rows) >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.table(name).collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3, 4}
    # value % 5 distributes the monotonically increasing counter evenly
    counts = sorted(r.n for r in rows)
    assert counts[-1] - counts[0] <= 1


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Built-in streaming dedup: duplicates of a key arriving within
    the watermark window are suppressed, and (unlike plain
    dropDuplicates) state for expired keys is evicted once the
    watermark passes — the engine-native sibling of the custom TTL
    operator in streaming/stateful.py."""
    import os
    from pyspark.sql import functions as F, types as T
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("k", T.StringType()),
                           T.StructField("v", T.LongType())])
    stage = os.path.join(str(tmp_path), "ddw_in")
    ckpt = os.path.join(str(tmp_path), "ddw_ckpt")
    out = os.path.join(str(tmp_path), "ddw_out")
    os.makedirs(stage)

    def write(rows, name):
        (spark.createDataFrame(rows, "ts string, k string, v long")
         .select(F.col("ts").cast("timestamp"), "k", "v")
         .coalesce(1).write.parquet(os.path.join(stage, name)))

    def run():
        stream = spark.readStream.schema(schema).parquet(os.path.join(stage, "*"))
        dedup = (stream.withWatermark("ts", "10 minutes")
                 .dropDuplicatesWithinWatermark(["k"]))
        q = (dedup.writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # batch 1: key A twice within the window → one survivor
    write([("2024-01-01 12:00:00", "A", 1), ("2024-01-01 12:02:00", "A", 2),
           ("2024-01-01 12:01:00", "B", 3)], "f1")
    run()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.k for r in rows) == ["A", "B"]


def test_first_seen_ttl_state_eviction(spark, tmp_path):
    """State eviction with EventTimeTimeout, across checkpointed runs:
    key A's state (TTL 60 min) must be evicted once the watermark
    passes its lease, so a much-later re-arrival of A is emitted AGAIN
    — two "first seen" rows for A, proving the state is bounded in
    time. (A key with data in a batch is never the timeout invocation,
    so eviction needs a batch where A is absent — run 3.)"""
    import os
    from pyspark.sql import functions as F, types as T
    from howto_mongo_bulk_update_from_parquet_spark.streaming.stateful import first_seen_ttl_query

    schema = T.StructType([T.StructField("event_id", T.LongType()),
                           T.StructField("ts", T.TimestampType()),
                           T.StructField("user_id", T.LongType()),
                           T.StructField("event_type", T.StringType())])
    stage = os.path.join(str(tmp_path), "ttl_in")
    ckpt = os.path.join(str(tmp_path), "ttl_ckpt")
    out = os.path.join(str(tmp_path), "ttl_out")
    os.makedirs(stage)

    def write(rows, name):
        (spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string")
         .select("event_id", F.col("ts").cast("timestamp"), "user_id", "event_type")
         .coalesce(1).write.parquet(os.path.join(stage, name)))

    def run():
        stream = spark.readStream.schema(schema).parquet(os.path.join(stage, "*"))
        q = (first_seen_ttl_query(stream, ttl_minutes=60)
             .writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    A, B, C = 1, 2, 3
    write([(10, "2024-01-01 12:00:00", A, "click")], "f1")
    run()                                       # A first seen; lease 13:00
    write([(20, "2024-01-01 18:00:00", B, "click")], "f2")
    run()                                       # watermark -> 17:50 (> lease)
    write([(30, "2024-01-01 18:10:00", C, "click")], "f3")
    run()                                       # A absent + watermark past lease: evicted
    write([(40, "2024-01-01 19:00:00", A, "click")], "f4")
    run()                                       # A re-arrives with no state: re-emitted
    rows = spark.read.parquet(out).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.first_event_id)
    assert sorted(per_user[A]) == [10, 40]      # emitted twice: state was evicted
    assert per_user[B] == [20] and per_user[C] == [30]


class _PythonRowsListener:
    """py4j QueryExecutionListener: counts the plans the session runs
    while registered and sums their Python-worker input rows."""

    def __init__(self):
        self.plans = 0
        self.python_rows = 0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        from types import SimpleNamespace
        from howto_mongo_bulk_update_from_parquet_spark.observability import plan_metrics
        metrics = plan_metrics(SimpleNamespace(
            _jdf=SimpleNamespace(queryExecution=lambda: qe)))
        self.plans += 1
        self.python_rows += sum(v for k, v in metrics.items()
                                if k.endswith(".pythonNumRowsReceived"))

    def onFailure(self, func_name, qe, exc):  # noqa: N802 - Java API
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def test_first_seen_across_batches_jvm_only(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): a key seen in batch 1
    keeps its batch-1 row although batch 2 holds an earlier `ts` for
    it; a key new in batch 2 is emitted once with its arg-min (ts tie
    broken by event_id); the NULL user_id group, present in both
    batches, is emitted exactly once and equals the batch ROW_NUMBER
    oracle. No plan the stream runs feeds a Python worker."""
    from pyspark.sql.window import Window
    from pyspark.java_gateway import ensure_callback_server_started
    from howto_mongo_bulk_update_from_parquet_spark.streaming.stateful import (
        first_seen_stream)

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    src = f"{tmp_path}/src"

    def write(rows, name):
        (spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string")
         .select("event_id", F.col("ts").cast("timestamp"), "user_id", "event_type")
         .coalesce(1).write.parquet(f"{src}/{name}"))

    write([(10, "2024-01-01 12:00:00", 1, "click"),
           (11, "2024-01-01 12:00:00", None, "view"),
           (12, "2024-01-01 12:30:00", None, "view")], "b1")
    write([(20, "2024-01-01 11:00:00", 1, "click"),     # earlier, too late
           (22, "2024-01-01 13:00:00", 2, "click"),
           (21, "2024-01-01 13:00:00", 2, "click"),     # ts tie: min event_id
           (23, "2024-01-01 14:00:00", None, "view")], "b2")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{src}/b*"))
    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = _PythonRowsListener()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        got = first_seen_stream(stream).collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        manager.unregister(listener)
    assert listener.plans > 0 and listener.python_rows == 0

    rows = {(r.user_id, r.event_type): r.first_event_id for r in got}
    assert len(got) == len(rows) == 3
    assert rows[(1, "click")] == 10
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    oracle = {(r.user_id, r.event_type): r.event_id
              for r in (spark.read.schema(schema).parquet(f"{src}/b*")
                        .withColumn("rn", F.row_number().over(w))
                        .filter("rn = 1").collect())}
    assert oracle[(1, "click")] == 20           # the batch answer differs
    assert rows[(2, "click")] == oracle[(2, "click")] == 21
    assert rows[(None, "view")] == oracle[(None, "view")] == 11


def test_threshold_alarm_fires_once_across_batches(spark, tmp_path):
    """Keyed accumulator state must SURVIVE micro-batch boundaries:
    user 1 crosses only with batch-2 spend (fires in batch 2), user 2
    crosses inside batch 1 and must stay silent in batch 2."""
    import datetime as dt
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from howto_mongo_bulk_update_from_parquet_spark.streaming.stateful import (
        ALARM_OUTPUT_SCHEMA, ALARM_STATE_SCHEMA, _make_threshold_alarm)

    src = f"{tmp_path}/src"
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    t0 = dt.datetime(2024, 1, 1)
    # batch 1: user1 +6.00, user2 +12.00; batch 2: user1 +5.00, user2 +5.00
    spark.createDataFrame(
        [(1, t0, 1, "view", 6.0, "{}"), (2, t0, 2, "view", 12.0, "{}")],
        schema).coalesce(1).write.parquet(f"{src}/b1")
    spark.createDataFrame(
        [(3, t0, 1, "view", 5.0, "{}"), (4, t0, 2, "view", 5.0, "{}")],
        schema).coalesce(1).write.parquet(f"{src}/b2")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(f"{src}/b*"))
    spend = stream.select("user_id",
                          F.round(F.col("value") * 100, 0).cast("long")
                           .alias("cents"))
    out = (spend.groupBy("user_id")
           .applyInPandasWithState(_make_threshold_alarm(1000),
                                   ALARM_OUTPUT_SCHEMA, ALARM_STATE_SCHEMA,
                                   "append", GroupStateTimeout.NoTimeout))
    q = (out.writeStream.format("memory").queryName("alarm_mb")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from alarm_mb").collect()
    # exactly one alarm per user: user2 from batch 1, user1 only after
    # batch 2 pushed 600+500 over 1000
    assert sorted(r.user_id for r in rows) == [1, 2]


def test_foreach_batch_partials_are_additive_across_batches(spark, tmp_path):
    """foreachBatch aggregates INSIDE the batch writer (per-batch
    partials, additive) — an upstream streaming groupBy in update
    mode would emit cumulative state and double-count on append.
    Three source files + maxFilesPerTrigger=1 force three micro-
    batches; the re-aggregated sink must equal the batch GROUP BY."""
    import pyspark.sql.functions as F
    from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import load_table
    from howto_mongo_bulk_update_from_parquet_spark.streaming.jobs import (
        stream_foreach_batch_upsert)
    src_dir = f"{tmp_path}/sf"
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    (ev.repartition(3).write.mode("overwrite")
     .option("parquet.outputTimestampType", "TIMESTAMP_MICROS")
     .parquet(f"{src_dir}/events.parquet"))
    out = stream_foreach_batch_upsert(spark, src_dir)
    got = {r.user_id: (r.n_events, r.total_cents) for r in out.collect()}
    cents = F.round(F.col("value") * 100).cast("long")
    want = {r.user_id: (r.n, r.c)
            for r in (load_table(spark, src_dir, "events")
                      .groupBy("user_id")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.sum(cents).alias("c")).collect())}
    assert got == want and len(got) > 0
