"""Watermarked stream-stream interval join, batch and streaming."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from glamira_batch_processing_spark.streaming.joins import interval_join

TS_SCHEMA = StructType(
    [
        StructField("user", LongType()),
        StructField("ts", TimestampType()),
        StructField("what", StringType()),
    ]
)


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 12, 0, 0) + datetime.timedelta(
        minutes=minute
    )


def test_interval_join_batch_semantics(spark):
    views = spark.createDataFrame(
        [
            (1, _ts(0), "view-early"),
            (1, _ts(50), "view-within"),
            (2, _ts(58), "view-other-user"),
            (1, _ts(61), "view-after"),
        ],
        TS_SCHEMA,
    )
    buys = spark.createDataFrame([(1, _ts(60), "buy")], TS_SCHEMA)
    out = interval_join(
        buys, views, key="user", lower="0 seconds", upper="15 minutes"
    ).select(F.col("r.what").alias("matched"))
    # only the view 10 min before the same user's purchase matches
    assert [r["matched"] for r in out.collect()] == ["view-within"]


def test_interval_join_runs_as_stream(spark, tmp_path):
    """The same plan must be accepted by the streaming engine in append
    mode (both sides watermarked, two-sided time bound => bounded state)."""
    left_dir = str(tmp_path / "l")
    right_dir = str(tmp_path / "r")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, _ts(60), "buy")], TS_SCHEMA
    ).coalesce(1).write.parquet(left_dir)
    spark.createDataFrame(
        [(1, _ts(50), "view-within"), (1, _ts(0), "view-early")], TS_SCHEMA
    ).coalesce(1).write.parquet(right_dir)

    l = spark.readStream.schema(TS_SCHEMA).parquet(left_dir)
    r = spark.readStream.schema(TS_SCHEMA).parquet(right_dir)
    j = interval_join(l, r, key="user", lower="0 seconds", upper="15 minutes").select(
        F.col("l.user").alias("user"), F.col("r.what").alias("matched")
    )
    q = (
        j.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    # the in-window view joins; the watermark may hold back nothing else
    assert [r["matched"] for r in rows] == ["view-within"]
