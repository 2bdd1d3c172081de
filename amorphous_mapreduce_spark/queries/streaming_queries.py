"""Batch-mode registrations of the streaming transforms.

Structured Streaming's unified semantics mean the same transform runs in
batch; registering the batch form gives the stateful operators (windows,
session windows) DuckDB oracles. The streaming execution path itself is
covered by tests/test_streaming.py (readStream -> memory sink parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amorphous_mapreduce_spark.queries_registry import register
from amorphous_mapreduce_spark.sources import load_table
from amorphous_mapreduce_spark.streaming import (
    sessionized_event_counts,
    windowed_event_stats,
)

HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY window_start, window_end, event_type
"""


@register("events_hourly_windows", HOURLY_ORACLE)
def q_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows (streaming op in batch mode):
    window starts align with date_trunc('hour')."""
    return windowed_event_stats(load_table(spark, sf_dir, "events"))


SESSION_WINDOW_ORACLE = """
WITH lagged AS (
    SELECT user_id, ts, event_id,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
), flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM lagged
), sessions AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@register("events_session_windows", SESSION_WINDOW_ORACLE)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window (gap 30m) cross-checked against the
    relational lag+cumsum sessionisation: session_end = last event + gap."""
    return sessionized_event_counts(load_table(spark, sf_dir, "events"))


SLIDING_ORACLE = """
WITH e AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS b,
           event_type, value,
           unnest([0, 1]) AS k
    FROM events
)
SELECT b - k * INTERVAL '30 minutes' AS window_start,
       b - k * INTERVAL '30 minutes' + INTERVAL '60 minutes' AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM e
GROUP BY window_start, window_end, event_type
"""


@register("events_sliding_windows", SLIDING_ORACLE)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30m (each event lands in 2 overlapping
    windows) — the hopping-window streaming aggregate in batch mode;
    oracle expands the overlap with an unnest of the two slide offsets."""
    return windowed_event_stats(
        load_table(spark, sf_dir, "events"), slide="30 minutes"
    )


_JITTER = (
    "CAST('0x' || substr(md5('jit:' || CAST(event_id AS VARCHAR)), 1, 15) "
    "AS BIGINT) % 120000000"
)

LATENESS_ORACLE = f"""
WITH arr AS (
    SELECT event_id, epoch_us(ts) AS us,
           epoch_us(ts) + {_JITTER} AS arr_us
    FROM events
), e AS (
    SELECT event_id, us, arr_us,
           MAX(us) OVER (
               ORDER BY arr_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
    FROM arr
), lat AS (
    SELECT CASE WHEN pmax IS NULL OR pmax <= us THEN 0
                ELSE pmax - us END AS late_us
    FROM e
)
SELECT COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_disordered,
       CAST(SUM(CASE WHEN late_us > 30000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS late_30s,
       CAST(SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS late_1m,
       CAST(SUM(CASE WHEN late_us > 120000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS late_2m,
       CAST(MAX(late_us) AS BIGINT) AS max_late_us
FROM lat
"""


@register("watermark_lateness", LATENESS_ORACLE)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile that justifies a watermark delay: each
    event's lateness vs the max event-time among STRICTLY EARLIER
    arrivals, summarised at candidate watermark thresholds (30s/1m/2m).
    Ingestion is modelled as the event stream under deterministic
    per-event network jitter (0-2 min, MD5-derived) — the fixture's
    event_id order is already time-sorted, so the jitter recreates the
    multi-source interleaving a real ingest exhibits.

    The arrival-order prefix max — the oracle's single unpartitioned
    window — is computed distributed with the block-sweep pattern
    (same family as peak_concurrent_sessions): arrival-hour blocks get
    a KEYED in-block running max, block maxima form a calendar-bounded
    frame whose prior-block carry is a bounded join, and each event's
    global prefix max is greatest(in-block prefix, carried max). No
    single task ever sees row-level data.
    """
    from pyspark.sql import Window

    from amorphous_mapreduce_spark.functions.hashing import hex_hash64

    jitter = hex_hash64(
        F.concat(F.lit("jit:"), F.col("event_id").cast("string"))
    ) % F.lit(120_000_000)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.unix_micros(F.col("ts")) + jitter).alias("arr_us"),
    )
    blk = ev.withColumn("bucket", F.expr("arr_us div 3600000000"))
    win = (
        Window.partitionBy("bucket")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = blk.withColumn("pmax_in", F.max("us").over(win))
    bmax = blk.groupBy("bucket").agg(F.max("us").alias("bmax")).persist()
    b2 = bmax.select(F.col("bucket").alias("b2"), F.col("bmax").alias("bmax2"))
    carry = (
        bmax.join(b2, F.col("b2") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(F.max("bmax2").alias("carry"))
    )
    late = (
        pre.join(carry, "bucket")
        .withColumn("pmax", F.greatest(F.col("pmax_in"), F.col("carry")))
        .withColumn(
            "late_us",
            F.when(
                F.col("pmax").isNull() | (F.col("pmax") <= F.col("us")), F.lit(0)
            ).otherwise(F.col("pmax") - F.col("us")),
        )
    )
    return late.agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0)).alias("n_disordered"),
        F.sum(F.when(F.col("late_us") > 30_000_000, 1).otherwise(0)).alias(
            "late_30s"
        ),
        F.sum(F.when(F.col("late_us") > 60_000_000, 1).otherwise(0)).alias(
            "late_1m"
        ),
        F.sum(F.when(F.col("late_us") > 120_000_000, 1).otherwise(0)).alias(
            "late_2m"
        ),
        F.max("late_us").alias("max_late_us"),
    )
