"""Deterministic file-replay harness for gating stateful streams.

Turns a batch DataFrame into a REAL Structured Streaming run whose
results are externally checkable: the input is staged as N file chunks
cut on per-key event-rank quantiles (monotone in event time per key,
so arrival order is time-ordered per key and chunk cuts land
mid-session/mid-journey — the carried GroupState, not just counters,
is what downstream oracles verify) with ascending mtimes, replayed
through ``maxFilesPerTrigger=1`` + ``availableNow`` so state must
cross N micro-batch boundaries, and update-mode emissions are appended
to a parquet sink with their batch_id so the caller can resolve each
key to its LAST emission (update-sink semantics).

Used by the ``sessionize_streaming_gate`` and ``funnel_streaming_gate``
contract queries (plans/session_queries.py) — the external-oracle form
of the applyInPandasWithState operators.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stage_time_ordered_chunks(
    df: DataFrame,
    src: Path,
    key_col: str,
    order_cols: list[str],
    n_chunks: int = 4,
    base_mtime: int = 1_700_000_000,
) -> str:
    """Write ``df`` as ``n_chunks`` replay files; returns the glob the
    file source should read. Chunk = per-key rank quantile over
    ``order_cols`` (monotone per key), mtimes ascend so the file
    source processes chunks in order (``latestFirst`` default false)."""
    u = Window.partitionBy(key_col).orderBy(*order_cols)
    n = Window.partitionBy(key_col)
    chunk = F.least(
        F.lit(n_chunks - 1),
        ((F.row_number().over(u) - 1) * n_chunks / F.count("*").over(n)).cast("int"),
    )
    return stage_keyed_chunks(df, src, chunk, n_chunks, base_mtime)


def stage_keyed_chunks(
    df: DataFrame,
    src: Path,
    chunk_col,
    n_chunks: int = 4,
    base_mtime: int = 1_700_000_000,
) -> str:
    """Write ``df`` as ``n_chunks`` replay files cut by an explicit
    deterministic chunk expression (e.g. ``doc_id % 4`` — an ingest
    arrival order, where rows have no event time to order by). Mtimes
    ascend so the file source replays chunks in order; the cut is
    value-driven, so related rows (e.g. a document and its later-
    arriving duplicate) land in DIFFERENT micro-batches and the
    operator's cross-batch state is what the downstream oracle
    verifies."""
    chunked = df.withColumn("__chunk", chunk_col.cast("int"))
    for i in range(n_chunks):
        d = src / f"c{i}"
        chunked.filter(F.col("__chunk") == i).drop("__chunk").coalesce(
            1
        ).write.parquet(str(d))
        for p in d.glob("*.parquet"):
            os.utime(p, (base_mtime + i, base_mtime + i))
    return f"{src}/c*"


def run_update_replay(
    spark,
    stateful_df: DataFrame,
    out: Path,
    ckpt: Path,
    timeout_s: int = 1800,
    output_mode: str = "update",
) -> DataFrame:
    """Run a stateful stream to completion (availableNow), appending
    each micro-batch's emissions + batch_id to ``out``; returns the
    sink read back as a batch DataFrame. ``output_mode`` must match
    the operator's declared mode (update for re-emitting operators,
    append for emit-once operators like the threshold alert)."""

    def sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            str(out)
        )

    q = (
        stateful_df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    try:
        # availableNow terminates deterministically; the bound exists
        # so a wedged stream fails the gate loudly instead of hanging.
        if not q.awaitTermination(timeout_s):
            raise TimeoutError("stateful replay stream did not finish")
    finally:
        if q.isActive:
            q.stop()
    return spark.read.parquet(str(out))


def latest_emission(emitted: DataFrame, keys: list[str]) -> DataFrame:
    """Resolve update-sink emissions to the LAST row per key."""
    w = Window.partitionBy(*keys).orderBy(F.desc("batch_id"))
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "batch_id")
    )
