"""Event-time window contract queries: tumbling-window rollup and the
stream-stream interval join, both written as the streaming plans
(watermark + event-time bounds) and oracle-checked in batch — Spark
runs the identical plan in either mode, which is the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.joins import interval_join
from .core_queries import cents
from .registry import query, table

_SIX_HOURS_US = 6 * 3600 * 1_000_000


@query(
    "tumbling_window_revenue",
    oracle=f"""
    SELECT (epoch_us(ts) // {_SIX_HOURS_US}) * {_SIX_HOURS_US} AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value*100 + 0.5) AS BIGINT)) AS DOUBLE)/100 AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def tumbling_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window rollup (6 h x event_type): the batch
    face of ``streaming.ingest.windowed_event_counts`` — same
    window()+watermark plan a readStream source would run, where the
    watermark bounds (window, key) state (SURVEY §2.9 extension).

    Value sums ride on integer cents in split-BIGINT aggregate state
    (core_queries.split_sum — order-insensitive, bit-exact vs the
    oracle, codegen'd where a decimal(38,0) accumulator is interpreted).
    Tumbling windows align to the unix epoch in both engines,
    so the oracle is a plain floor-div bucket."""
    from .core_queries import split_sum, split_total

    e = table(spark, sf_dir, "events")
    return (
        e.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            *split_sum(cents(F.col("value")), "v"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .withColumn("sum_value", split_total("v").cast("double") / 100)
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


# Every view in the 15 minutes before a purchase by the same user.
_ATTRIBUTION_ORACLE = """
    SELECT p.event_id AS purchase_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           v.event_id AS view_id,
           epoch_us(v.ts) AS view_ts_us
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL '15 minutes'
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """


@query("interval_join_attribution", oracle=_ATTRIBUTION_ORACLE)
def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase attribution: every view by the same user within the 15
    minutes before a purchase (``streaming.joins.interval_join``). As a
    stream-stream join the two watermarks plus the two-sided time bound
    keep both state stores bounded; in batch Catalyst plans the same
    condition as one equi-shuffle on user_id with the range predicate
    applied as a join filter — no extra pass."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    j = interval_join(
        purchases, views, key="user_id", lower="0 seconds", upper="15 minutes"
    )
    return j.select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.unix_micros("l.ts").alias("purchase_ts_us"),
        F.col("r.event_id").alias("view_id"),
        F.unix_micros("r.ts").alias("view_ts_us"),
    )


@query("interval_join_streaming_gate", oracle=_ATTRIBUTION_ORACLE)
def interval_join_streaming_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-STREAM interval join under the external oracle gate
    (``interval_join_attribution`` proves the PLAN in batch; this
    replays the identical ``streaming.joins.interval_join`` as a REAL
    two-source Structured Streaming join and hash-matches the union of
    its append-mode emissions against the same batch oracle: its oracle
    is its batch twin's, ``_ATTRIBUTION_ORACLE``). Purchases and views arrive as two file sources, four
    mtime-ordered chunks each, one file per source per micro-batch.

    The VIEW side is deliberately delivered ONE CHUNK LATER than its
    event-time quartile (chunk = min(3, quartile + 1)), so nearly
    every attribution pair's view arrives in a strictly later
    micro-batch than its purchase: the purchase must sit in join state
    across the boundary for the match to emit at all — a sink that
    joined only within batches would lose almost every pair and the
    hash would flip. No row is event-time late (each side stays
    time-ordered within itself) and the global watermark is the MIN
    across both sides' (multipleWatermarkPolicy default), which lags
    the delayed view side — so no state needed for a future match is
    ever evicted and the emission SET provably equals the batch join:
    a purchase's state is safe until the watermark passes its
    timestamp, and every matching view arrives while the view-side
    maximum is still below it. Exactly-once: a stream-stream join
    emits each matched pair once; any duplicate doubles a row and
    breaks the hash.

    100 TB shape: the two watermarks plus the two-sided time bound are
    what bound BOTH state stores (state = rows within the watermark
    horizon, independent of stream length) — the join-state analog of
    the watermark gate's window-state argument."""
    from pyspark.sql import Window

    from ..streaming.joins import interval_join
    from ..streaming.replay import run_update_replay, stage_keyed_chunks
    from .lifecycle_queries import _scratch

    root = _scratch("interval_join_streaming_gate", sf_dir)
    e = table(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return e.filter(F.col("event_type") == event_type).select(
            "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
        )

    def chunk_col(delay: int):
        wspec = Window.orderBy("ts_us", "event_id")
        n_all = F.count("*").over(Window.partitionBy())
        q = F.least(
            F.lit(3),
            F.floor((F.row_number().over(wspec) - F.lit(1)) * 4 / n_all),
        )
        return F.least(F.lit(3), q + F.lit(delay))

    pglob = stage_keyed_chunks(
        side("purchase"), root / "p", chunk_col(0), n_chunks=4
    )
    vglob = stage_keyed_chunks(
        side("view"), root / "v", chunk_col(1), n_chunks=4
    )

    def stream(glob: str) -> DataFrame:
        return (
            spark.readStream.schema("event_id long, user_id long, ts_us long")
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
            .select(
                "event_id",
                "user_id",
                F.timestamp_micros(F.col("ts_us")).alias("ts"),
            )
        )

    j = interval_join(
        stream(pglob),
        stream(vglob),
        key="user_id",
        lower="0 seconds",
        upper="15 minutes",
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.unix_micros("l.ts").alias("purchase_ts_us"),
        F.col("r.event_id").alias("view_id"),
        F.unix_micros("r.ts").alias("view_ts_us"),
    )
    emitted = run_update_replay(
        spark, j, root / "out", root / "ckpt", output_mode="append"
    )
    return emitted.select(
        "purchase_id", "user_id", "purchase_ts_us", "view_id", "view_ts_us"
    )
