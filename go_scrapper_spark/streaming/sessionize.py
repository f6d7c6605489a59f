"""Sessionization: group events per user into sessions split by an
inactivity gap.

The reference has no event stream, so this is part of the engine's
training-data/analytics tier. ``sessionize_batch`` is classic
gaps-and-islands over window functions (lag → gap flag → running sum
= session id → aggregate): native SQL, whole-stage codegen, one
shuffle on user_id. ``sql_sessionize`` is its DuckDB oracle twin; the
two agree bit-exact (money in integer cents, timestamps in epoch
millis).

Batch only. The module keeps the ``streaming/`` path because the
frozen oracle suite (``oracle_queries.sessionize_events``) imports
both functions from here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionization (native expressions only)."""
    gap_ms = gap_minutes * 60 * 1000
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    e = events.select(
        "user_id", "ts", "event_id",
        # parquet may carry TIMESTAMP_NTZ; normalize before unix_millis
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    e = e.withColumn("prev_ms", F.lag("ts_ms").over(w)).withColumn(
        "brk",
        F.when(
            F.col("prev_ms").isNull() | (F.col("ts_ms") - F.col("prev_ms") > gap_ms),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    e = e.withColumn(
        "sid",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        e.groupBy("user_id", "sid")
        .agg(
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_end_ms"),
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_value_cents"),
        )
        .select(
            "user_id", "session_start_ms", "session_end_ms",
            "n_events", "sum_value_cents",
        )
    )


def sql_sessionize(gap_minutes: int = 30) -> str:
    """DuckDB oracle twin of sessionize_batch."""
    gap_ms = gap_minutes * 60 * 1000
    return f"""
WITH o AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         CAST(round(value*100) AS BIGINT) AS cents,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
  FROM events),
m AS (SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > {gap_ms}
                     THEN 1 ELSE 0 END AS brk FROM o),
s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT user_id,
       CAST(min(ts_ms) AS BIGINT) AS session_start_ms,
       CAST(max(ts_ms) AS BIGINT) AS session_end_ms,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_value_cents
FROM s GROUP BY user_id, sid
"""
