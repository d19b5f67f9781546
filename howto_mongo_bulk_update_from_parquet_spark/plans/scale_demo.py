"""Scale-technique queries: salted aggregation (hot-key mitigation),
range-frame windows, and the custom stateful streaming operator. Each
demonstrates a 100 TB technique while staying oracle-checkable — the
salted plan must produce byte-identical results to the plain GROUP BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import dec
from ..operators.skew import salted_sum_count
from ..sources.parquet import load_table
from .catalog import register

# l_returnflag has ~3 distinct values over 600k rows — a genuinely hot
# grouping key. The salted two-stage plan spreads each flag over 16
# reducers; the oracle is the plain GROUP BY (results must be identical).
SALTED_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register("q_skew_salted_agg", SALTED_ORACLE,
          "salted two-stage aggregation over a hot key — identical result, "
          "skew-free shuffle")
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_sum_count(li, "l_returnflag", dec("l_quantity", 18, 6), 16)
    return out.select("l_returnflag",
                      F.col("sum_value").cast("double").alias("sum_value"),
                      "n_rows")


# Salted skew JOIN: the 3-value l_returnflag dim is the maximal-skew
# equi-join (3 hot keys -> 3 reducers in a plain shuffle join). The
# salted form spreads each key over 16 reducers; the oracle is the
# PLAIN join - results must be row-identical, salt never escapes.
SALTED_JOIN_ORACLE = """
WITH dim AS (
  SELECT DISTINCT l_returnflag AS flag,
         CASE l_returnflag WHEN 'A' THEN 'accepted'
                           WHEN 'R' THEN 'returned'
                           ELSE 'none' END AS flag_label
  FROM lineitem
)
SELECT d.flag_label,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem l JOIN dim d ON l.l_returnflag = d.flag
GROUP BY d.flag_label
"""


@register("q_skew_salted_join", SALTED_JOIN_ORACLE,
          "salted skew join: fact side salted, dim replicated per salt, "
          "join on (key, salt) — row-identical to the plain join")
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join
    li = load_table(spark, sf_dir, "lineitem")
    dim = (li.select(F.col("l_returnflag").alias("flag")).distinct()
             .withColumn("flag_label",
                         F.when(F.col("flag") == "A", "accepted")
                          .when(F.col("flag") == "R", "returned")
                          .otherwise("none")))
    joined = salted_join(li.withColumnRenamed("l_returnflag", "flag"),
                         dim, "flag", n_salts=16)
    vol = dec("l_extendedprice", 12, 2) * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    return (joined.groupBy("flag_label")
            .agg(F.sum(vol).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_rows")))


# Dynamic partition pruning: at 100 TB a fact table is laid out
# partitioned on a join/filter column; a selective dim-side predicate
# must prune fact PARTITION DIRECTORIES at runtime (before the scan),
# not filter rows after reading everything. Spark injects a
# dynamicpruningexpression into the fact scan's PartitionFilters when
# the join key is a partition column and the dim side is selective —
# here 2 of 5 event_type directories survive. The partitioned copy is
# written once per fixture generation (path keyed on the source file's
# mtime, so a driver-regenerated fixture re-materializes instead of
# serving stale rows) — the write itself is the standard layout step
# (G2 partitionBy), the query then proves the pruned read.
DPP_ORACLE = """
WITH dim AS (
  SELECT 'purchase' AS event_type, 5 AS weight
  UNION ALL SELECT 'signup', 3
)
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6)) * d.weight) AS DOUBLE)
         AS weighted_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


def _dpp_events_path(sf_dir: str) -> str:
    import hashlib
    import os
    import tempfile
    src = os.path.join(sf_dir, "events.parquet")
    key = hashlib.md5(
        f"{src}:{os.path.getmtime(src)}".encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_dpp_{key}")


@register("q_dpp_partition_pruned_join", DPP_ORACLE,
          "dynamic partition pruning: event_type-partitioned fact copy, "
          "selective dim join prunes 3 of 5 partition dirs at runtime")
def q_dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    path = _dpp_events_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (load_table(spark, sf_dir, "events")
         .write.partitionBy("event_type").mode("overwrite").parquet(path))
    part = spark.read.parquet(path)
    # the third row + real predicate make the dim SELECTIVE (DPP only
    # fires when the build side filters), and weights stay literal so
    # the oracle is pure SQL
    dim = (spark.createDataFrame(
        [("purchase", 5), ("signup", 3), ("click", 0)],
        "event_type string, weight int")
        .filter(F.col("weight") > 0))
    return (part.join(F.broadcast(dim), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(dec("value", 18, 6) * F.col("weight"))
                  .cast("double").alias("weighted_value")))


# Bucketed co-located join: the OTHER layout-time join optimization.
# Both sides are written `bucketBy(8, join_key).sortBy(join_key)` —
# at read time the scans' output partitioning already satisfies the
# join's distribution, so the sort-merge join runs with NO exchange
# on either side (plan-pinned); only the final groupBy shuffles its
# few aggregate rows. At 100 TB this is how a fact table that joins
# the same dimension every day avoids re-shuffling itself every day.
# Tables are materialized once per fixture generation (names keyed on
# the source files' mtimes, same policy as the DPP copy).
BUCKETED_ORACLE = """
SELECT c.c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_spend
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def _bucketed_table_name(sf_dir: str, table: str) -> str:
    import hashlib
    import os
    src = os.path.join(sf_dir, f"{table}.parquet")
    key = hashlib.md5(
        f"{src}:{os.path.getmtime(src)}".encode()).hexdigest()[:10]
    return f"bkt_{table}_{key}"


@register("q_bucketed_colocated_join", BUCKETED_ORACLE,
          "bucketed co-located join: both sides bucketBy(8, key) — "
          "sort-merge join with zero exchanges on the join inputs")
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    from urllib.parse import urlparse
    for table, key_col in [("orders", "o_custkey"), ("customer", "c_custkey")]:
        name = _bucketed_table_name(sf_dir, table)
        if not spark.catalog.tableExists(name):
            # the default catalog is in-memory per process: a previous
            # process may have left the managed location behind without
            # a registration — clear the orphan or saveAsTable refuses
            wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            loc = os.path.join(wh, name.lower())
            if wh and os.path.exists(loc):
                shutil.rmtree(loc)
            (load_table(spark, sf_dir, table)
             .write.bucketBy(8, key_col).sortBy(key_col)
             .mode("overwrite").saveAsTable(name))
    o = spark.table(_bucketed_table_name(sf_dir, "orders"))
    c = spark.table(_bucketed_table_name(sf_dir, "customer"))
    return (o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(dec("o_totalprice", 18, 2)).cast("double")
                  .alias("total_spend")))


RANGE_FRAME_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                  RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
                  RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_orders_90d
FROM orders
"""


@register("q_window_range_frame", RANGE_FRAME_ORACLE,
          "RANGE frame window: trailing-90-day spend per customer")
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    secs = F.floor(F.unix_micros("o_orderdate") / F.lit(1_000_000)).cast("long")
    w = (Window.partitionBy("o_custkey").orderBy(secs.alias("epoch_s"))
         .rangeBetween(-90 * 86400, 0))
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(dec("o_totalprice", 18, 2)).over(w).cast("double").alias("spend_90d"),
        F.count(F.lit(1)).over(w).alias("n_orders_90d"))


# first occurrence per (user, event_type): the stream's keyed-state
# dedup must equal the batch arg-min.
FIRST_SEEN_ORACLE = """
SELECT user_id, event_type,
       event_id AS first_event_id, ts AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


@register("q_stream_first_seen", FIRST_SEEN_ORACLE,
          "streaming first-seen dedup per (user, event_type), JVM-only: "
          "per-batch min(struct(ts, event_id)) anti-joined against the "
          "keys already emitted, in foreachBatch")
def q_stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import stream_first_seen
    return stream_first_seen(spark, sf_dir)


@register("q_stream_first_seen_ttl", FIRST_SEEN_ORACLE,
          "watermarked-TTL streaming dedup (EventTimeTimeout): state is "
          "bounded in event time, not only key cardinality; single-batch "
          "run evicts nothing so the batch arg-min oracle still holds")
def q_stream_first_seen_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import stream_first_seen_ttl
    return stream_first_seen_ttl(spark, sf_dir)


THRESHOLD_ALARM_ORACLE = """
SELECT user_id, CAST(350000 AS BIGINT) AS threshold_cents
FROM events WHERE value > 0
GROUP BY user_id
HAVING SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) >= 350000
"""


@register("q_stream_threshold_alarm", THRESHOLD_ALARM_ORACLE,
          "stateful streaming budget alarm (applyInPandasWithState): "
          "per-user integer-cents accumulator in keyed state, one "
          "alarm row at first crossing — batching-order independent, "
          "oracle = batch HAVING over the same cents")
def q_stream_threshold_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import stream_threshold_alarm
    return stream_threshold_alarm(spark, sf_dir)
