"""Sessionization: gap-based user sessions.

Batch form: pure window expressions (lag -> gap flag -> running sum),
SQL-expressible and oracle-checkable.

Streaming forms, two tiers:
- ``sessionize_session_window``: Spark's NATIVE session_window
  aggregate + watermark — the built-in merging-session-state operator;
  use it whenever per-session aggregates are all you need (state is
  managed, late data handled by the watermark).
- ``sessionize_stateful``: applyInPandasWithState — the Arrow-batched
  custom-state path for what session_window can't express (per-key
  session COUNTERS carried across a user's whole lifetime, custom
  emission policies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DEFAULT_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def sessionize_batch(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_us: int = DEFAULT_GAP_US,
) -> DataFrame:
    """Assign 1-based session_seq per user: a new session starts when the
    gap to the previous event exceeds ``gap_us``. Pure window exprs."""
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(us).over(w)
    is_start = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("__start", is_start).withColumn(
        "session_seq", F.sum("__start").over(running)
    ).drop("__start")


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_seq", IntegerType()),
        StructField("last_us", LongType()),
        StructField("start_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", IntegerType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def sessionize_session_window(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization with the built-in session_window
    aggregate: per (user, session) event counts and bounds.

    Watermarked, so session state is bounded: a session finalizes (and
    becomes emittable in append mode) once the watermark passes its
    close; events later than the watermark are dropped by Spark's
    standard late-data rule. Works identically on a batch DataFrame
    (the watermark is a no-op there) — the contract query
    ``sessionize_builtin_window`` is exactly this operator on batch
    input, oracle-checked against the lag+cumsum formulation.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col, F.session_window(ts_col, gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            user_col,
            "n_events",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
        )
    )


def sessionize_stateful(grouped, gap_us: int = DEFAULT_GAP_US):
    """applyInPandasWithState sessionizer for a stream grouped by user.

    Emits the per-session aggregate rows touched in each micro-batch
    (update semantics); per-user (session_seq, last_ts, counts) state
    persists across batches via GroupState.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            seq, last_us, start_us, n = state.get
        else:
            seq, last_us, start_us, n = 0, None, None, 0
        touched: dict[int, list[int]] = {}
        for pdf in pdfs:
            pdf = pdf.sort_values("ts_us")
            for ts_us in pdf["ts_us"]:
                ts_us = int(ts_us)
                if last_us is None or ts_us - last_us > gap_us:
                    seq += 1
                    start_us, n = ts_us, 0
                n += 1
                last_us = ts_us
                touched[seq] = [start_us, last_us, n]
        state.update((seq, last_us, start_us, n))
        rows = [
            (int(user_id), s, v[0], v[1], v[2]) for s, v in sorted(touched.items())
        ]
        yield pd.DataFrame(
            rows, columns=["user_id", "session_seq", "start_us", "last_us", "n_events"]
        )

    return grouped.applyInPandasWithState(
        fn,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
