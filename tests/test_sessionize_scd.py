"""Stateful streaming sessionization and funnels against their batch forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glamira_batch_processing_spark.streaming.sessionize import (
    sessionize_batch,
    sessionize_stateful,
)


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """Run the applyInPandasWithState sessionizer as a real stream over
    two files and compare final session aggregates with the batch
    window formulation."""
    src = str(tmp_path / "sess_src")
    schema = "user_id long, event_id long, ts_us long"
    GAP = 30 * 60 * 1_000_000
    base = 1_700_000_000_000_000
    batch = [
        (1, 1, base),
        (1, 2, base + 10_000_000),          # same session
        (1, 3, base + GAP + 20_000_000),    # new session
        (2, 4, base),
    ]
    spark.createDataFrame(batch, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    sessions = sessionize_stateful(stream.groupBy("user_id"))
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.start_us, r.last_us)
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert got[(1, 1)] == (2, base, base + 10_000_000)
    assert got[(1, 2)] == (1, base + GAP + 20_000_000, base + GAP + 20_000_000)
    assert got[(2, 1)] == (1, base, base)

    # batch twin agrees on session structure
    bdf = spark.createDataFrame(batch, schema).withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    )
    b = sessionize_batch(bdf)
    bs = {
        (r.user_id, r.session_seq): r.n
        for r in b.groupBy("user_id", "session_seq").agg(F.count("*").alias("n")).collect()
    }
    assert bs == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_stateful_funnel_matches_batch(spark, tmp_path):
    """Run the applyInPandasWithState funnel as a real stream over two
    micro-batch files (state persists between them) and compare each
    user's stage_reached with the batch running-max formulation on the
    union. stage_reached == sum of the batch stage flags because the
    flags are a monotone prefix."""
    from glamira_batch_processing_spark.operators.behavior import (
        funnel_user_flags,
    )
    from glamira_batch_processing_spark.streaming.funnel import funnel_stateful

    src = str(tmp_path / "funnel_src")
    schema = "user_id long, event_id long, ts_us long, event_type string"
    base = 1_700_000_000_000_000
    batch1 = [
        (1, 1, base + 1, "view"),
        (1, 2, base + 2, "click"),
        (2, 3, base + 1, "click"),      # click before any view: no
        (3, 4, base + 1, "view"),
        (4, 5, base + 2, "purchase"),   # purchase first: no
    ]
    batch2 = [
        (1, 6, base + 9, "purchase"),   # completes user 1 across batches
        (2, 7, base + 9, "view"),       # view arrives after the click
        (2, 8, base + 10, "purchase"),  # no qualified click -> stays 1
        (3, 9, base + 9, "click"),
        (4, 10, base + 9, "view"),
    ]
    for b in (batch1, batch2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = funnel_stateful(stream.groupBy("user_id"), ["view", "click", "purchase"])
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_progress")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode: keep the LAST emitted row per user
    prog = {}
    for r in spark.sql(
        "SELECT * FROM funnel_progress"
    ).collect():  # rows arrive in batch order
        prog[r.user_id] = r.stage_reached
    # user 4's purchase precedes its view (never qualifies); the later
    # view alone leaves it at stage 1
    assert prog == {1: 3, 2: 1, 3: 2, 4: 1}

    union = spark.createDataFrame(batch1 + batch2, schema).withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    )
    flags = funnel_user_flags(union, ["view", "click", "purchase"])
    batch_reached = {
        r.user_id: r.stage_0 + r.stage_1 + r.stage_2 for r in flags.collect()
    }
    assert batch_reached == prog
