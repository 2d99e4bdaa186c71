"""Exactly-once threshold alerting across stream restarts, on the
applyInPandasWithState GroupState form (three checkpointed restarts,
exactly-once asserted)."""

from __future__ import annotations

import pytest

from glamira_batch_processing_spark.streaming.alerts import spend_alerts_legacy

IMPLS = [pytest.param(spend_alerts_legacy, id="applyInPandasWithState")]


def _append(spark, src, rows):
    spark.createDataFrame(rows, "user_id long, value double").coalesce(
        1
    ).write.mode("append").parquet(src)


def _run(spark, impl, src, out, ckpt):
    stream = spark.readStream.schema("user_id long, value double").parquet(src)
    q = (
        impl(stream.groupBy("user_id"), threshold=100.0)
        .writeStream.format("parquet")  # memory sink cannot recover a checkpoint
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        return spark.read.parquet(out).collect()
    except Exception:  # no alert emitted yet -> no files
        return []


@pytest.mark.parametrize("impl", IMPLS)
def test_spend_alert_fires_exactly_once_across_restarts(spark, tmp_path, impl):
    src = str(tmp_path / "src")
    out = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")

    # Batch 1: nobody crosses 100.
    _append(spark, src, [(1, 60.0), (2, 30.0)])
    assert _run(spark, impl, src, out, ckpt) == []

    # Batch 2 (new stream run, same checkpoint): user 1 crosses —
    # the running total survived the restart in the value state.
    _append(spark, src, [(1, 50.0), (2, 10.0)])
    rows = _run(spark, impl, src, out, ckpt)
    got = {r.user_id: (r.total, r.crossed_at_total) for r in rows}
    assert got == {1: (110.0, 110.0)}

    # Batch 3: user 1 keeps spending but must NOT re-alert (the sink
    # still holds only its ONE original alert row); user 2 crosses now
    # (30 + 10 + 70 = 110).
    _append(spark, src, [(1, 500.0), (2, 70.0)])
    rows = _run(spark, impl, src, out, ckpt)
    assert len(rows) == 2
    got = {r.user_id: (r.total, r.crossed_at_total) for r in rows}
    assert got == {1: (110.0, 110.0), 2: (110.0, 110.0)}
