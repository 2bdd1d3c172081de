"""Structured Streaming operators (SURVEY.md §7 phase 6).

The reference's wave loop with buffer-capacity back-pressure
(src/word_count.rs:50-71, src/outer_product.rs:177-192) is the moral
ancestor of micro-batching; here it's done natively: readStream ->
watermarked event-time windows (tumbling, sliding, session) ->
writeStream. The registered streaming queries run the same windows in
batch.
"""

from amorphous_mapreduce_spark.streaming.windows import (
    sessionized_event_counts,
    windowed_event_stats,
)

__all__ = [
    "sessionized_event_counts",
    "windowed_event_stats",
]
