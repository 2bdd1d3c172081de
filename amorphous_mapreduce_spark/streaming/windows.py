"""Streaming transformations over an events stream.

Each function takes an (already-streaming or batch) DataFrame and returns
the transformed DataFrame — source/sink wiring stays with the caller, so
the same logic is testable in batch and runs under readStream/writeStream
unchanged (Structured Streaming's unified semantics).

Scale notes: watermarks bound state; aggregations are partial+final as in
batch; session windows use Spark's built-in session_window state store
(the stateful analog of the batch lag+cumsum sessionization in
queries.relational_queries.sessionize).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_stats(events: DataFrame, slide: str | None = None) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding) 1-hour event-time window
    stats per event_type.

    [window_start, window_end, event_type, n_events, sum_value]. Rows
    later than the 30-minute watermark are dropped (state stays bounded).
    """
    win = (
        F.window("ts", "1 hour", slide) if slide else F.window("ts", "1 hour")
    )
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_event_counts(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute gap, 1-hour watermark) with
    event counts.

    [user_id, session_start, session_end, n_events] via the built-in
    session_window — dynamic-gap stateful windows, the streaming-native
    form of the reference's bounded-buffer wave accumulation.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
