"""Watermarked stream-stream interval join.

Stream-stream enrichment has no reference analog — its joins are all
batch. The watermarked interval join is the Spark-native way to join two
unbounded sources with bounded state: each side's buffer is bounded by
watermark + interval span; without BOTH time bounds Spark would have to
buffer a side forever (and refuses the query in append mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "15 minutes",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream equi+interval join: left row matches
    right rows with the same key whose timestamp lies in
    ``[left_ts - upper, left_ts - lower]`` (right happens at-or-before
    left, within the window — e.g. "view within 15 min before the
    purchase").

    Both watermarks plus the two-sided time bound are what make the
    state bounded; the same plan runs unchanged on batch DataFrames
    (how the oracle checks it).
    """
    l = left.withWatermark(left_ts, left_watermark).alias("l")
    r = right.withWatermark(right_ts, right_watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts <= lts - F.expr(f"INTERVAL {lower}"))
        & (rts >= lts - F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond)
