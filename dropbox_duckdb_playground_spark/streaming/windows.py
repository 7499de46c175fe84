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


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding window counts + value sums per key.

    On a streaming DataFrame the watermark bounds state (late rows beyond
    it are dropped); on a static frame withWatermark is a no-op, so batch
    and stream share this exact plan."""
    keys = keys or ["event_type"]
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return events.groupBy(win.alias("win"), *keys).agg(
        F.count("*").alias("n"), F.sum("value").alias("sum_value")
    )
