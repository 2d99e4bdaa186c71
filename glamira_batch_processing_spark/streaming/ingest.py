"""Event-time windowed aggregation over a checkpointed file stream.

Scale notes: file-source streaming shards by file; maxFilesPerTrigger
bounds batch size (the reference's BATCH_SIZE=5000 analog). The
windowed agg keeps state per (window, key) — watermark bounds state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark.

    Works on both a streaming and a batch DataFrame (same plan); on a
    stream the watermark bounds aggregation state.
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )
