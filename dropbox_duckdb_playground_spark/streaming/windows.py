"""Event-time windowed aggregation — Structured Streaming wrappers.

The reference has no streaming (SURVEY §2.12); these are the idiomatic
Spark operators a stream-shaped version of its workload needs. Each
builder works on both a static DataFrame (batch backfill) and a
streaming one (the same code path — Spark's unified API), so the
catalog's batch queries double as the streaming logic's oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: how late an event may arrive on a stream before its window is final
WATERMARK = "2 hours"
#: windowed_counts' tumbling window width
WINDOW = "1 hour"


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling window counts + value sums per (``WINDOW`` of ``ts``,
    event_type).

    On a streaming DataFrame the ``WATERMARK`` bounds state (late rows
    beyond it are dropped); on a static frame withWatermark is a no-op,
    so batch and stream share this exact plan."""
    if events.isStreaming:
        events = events.withWatermark("ts", WATERMARK)
    return events.groupBy(F.window("ts", WINDOW).alias("win"), "event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("sum_value")
    )
