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


def windowed_event_stats(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling/sliding event-time window stats per event_type.

    [window_start, window_end, event_type, n_events, sum_value]. Late rows
    beyond ``watermark`` are dropped (state stays bounded).
    """
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
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


def sessionized_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session windows (gap-based) with event counts.

    [user_id, session_start, session_end, n_events] via the built-in
    session_window — dynamic-gap stateful windows, the streaming-native
    form of the reference's bounded-buffer wave accumulation.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
