"""Streaming windows and watermarks, and source utilities (schema drift
reconcile, partitioned table write)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from glamira_batch_processing_spark.plans.pipeline import Pipeline
from glamira_batch_processing_spark.sources.readers import reconcile_read
from glamira_batch_processing_spark.streaming.ingest import windowed_event_counts


def test_ivf_assign_operator(spark):
    from glamira_batch_processing_spark.operators.similarity import ivf_assign

    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.8, 0.2]), (12, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id long, cvec array<double>"
    )
    got = {r.vec_id: r.centroid_id for r in ivf_assign(vecs, cents).collect()}
    assert got == {10: 0, 11: 0, 12: 1}


def test_windowed_event_counts_streaming(spark, tmp_path):
    """Run the windowed agg as a real stream (file source -> memory sink,
    complete mode) and check event-time windows."""
    src = str(tmp_path / "events")
    ev_schema = StructType(
        [StructField("ts", StringType()), StructField("event_type", StringType())]
    )
    rows = [
        ("2024-01-01 00:10:00", "view"),
        ("2024-01-01 00:50:00", "view"),
        ("2024-01-01 01:10:00", "click"),
        ("2024-01-01 01:20:00", "view"),
    ]
    spark.createDataFrame(rows, ev_schema).coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(ev_schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got[("2024-01-01 00:00:00", "view")] == 2
    assert got[("2024-01-01 01:00:00", "view")] == 1
    assert got[("2024-01-01 01:00:00", "click")] == 1


def test_reconcile_read_scans_per_schema_group_not_per_file(spark, tmp_path):
    """120 drifting part files with 3 distinct schemas must produce a
    plan with exactly 3 parquet scans (one multi-path scan per schema
    group), never a 120-way per-file union (VERDICT r1 finding #1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(120):
        p = str(tmp_path / f"part-{i:05d}.parquet")
        if i % 3 == 0:  # schema A: price is int64
            tbl = pa.table({"id": pa.array([i], pa.int64()), "price": pa.array([i * 10], pa.int64())})
        elif i % 3 == 1:  # schema B: price drifted to string
            tbl = pa.table({"id": pa.array([i], pa.int64()), "price": pa.array([f"{i * 10}"], pa.string())})
        else:  # schema C: extra column, price absent
            tbl = pa.table({"id": pa.array([i], pa.int64()), "note": pa.array([f"n{i}"], pa.string())})
        pq.write_table(tbl, p)
        paths.append(p)

    df = reconcile_read(spark, paths)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_scans = plan.count("Relation")
    assert n_scans == 3, f"expected 3 schema-group scans, saw {n_scans}"

    assert dict(df.dtypes)["price"] == "string"
    assert dict(df.dtypes)["note"] == "string"
    rows = {r.id: (r.price, r.note) for r in df.collect()}
    assert len(rows) == 120
    assert rows[0] == ("0", None)
    assert rows[1] == ("10", None)
    assert rows[2] == (None, "n2")


def test_schema_drift_reconcile(spark, tmp_path):
    """A column that drifts int -> string across parts is unified as
    string; parts missing a column get NULLs (ref normalize_parquet_run)."""
    p1, p2 = str(tmp_path / "part1"), str(tmp_path / "part2")
    spark.createDataFrame(
        [(1, 10, "a")], "id long, flaky long, only_first string"
    ).write.parquet(p1)
    spark.createDataFrame(
        [(2, "not-a-number")], "id long, flaky string"
    ).write.parquet(p2)

    df = reconcile_read(spark, [p1, p2])
    assert dict(df.dtypes)["flaky"] == "string"
    got = {r.id: (r.flaky, r.only_first) for r in df.collect()}
    assert got[1] == ("10", "a")
    assert got[2] == ("not-a-number", None)


def test_write_partitioned_prunes(spark, tmp_path):
    """A table model with ``partition_by`` (mart_fact_order's write
    path) lays out one directory per date, and a date filter prunes."""
    df = spark.createDataFrame(
        [("2024-01-01", 1, 5.0), ("2024-01-01", 2, 6.0), ("2024-01-02", 3, 7.0)],
        "date string, k long, v double",
    )
    p = Pipeline(spark, workdir=str(tmp_path))
    p.model("fact", materialized="table", partition_by="date")(lambda _p: df)
    back = p.ref("fact")
    assert back.count() == 3
    one_day = back.filter(F.col("date") == "2024-01-02")
    assert one_day.count() == 1
    # partition pruning visible in the physical plan
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "partitionFilters" in plan.lower()


def test_streaming_session_window(spark, tmp_path):
    """Native session_window as a real watermarked stream: sessions
    merge across events <= gap apart and split past the gap, per user."""
    from glamira_batch_processing_spark.streaming.sessionize import (
        sessionize_session_window,
    )

    src = str(tmp_path / "sess_events")
    schema = StructType(
        [StructField("ts", StringType()), StructField("user_id", LongType())]
    )
    rows = [
        ("2024-01-01 00:00:00", 1),
        ("2024-01-01 00:10:00", 1),   # same session (10m gap)
        ("2024-01-01 01:00:00", 1),   # 50m gap -> new session
        ("2024-01-01 00:05:00", 2),   # user 2, one session
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = sessionize_session_window(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.session_start)): (r.n_events, str(r.session_end))
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == (2, "2024-01-01 00:40:00")
    assert got[(1, "2024-01-01 01:00:00")] == (1, "2024-01-01 01:30:00")
    assert got[(2, "2024-01-01 00:05:00")] == (1, "2024-01-01 00:35:00")
    assert len(got) == 3


def test_watermark_boundary_semantics(spark, tmp_path):
    """Empirical pin of the watermark algebra watermark_late_data_gate's
    oracle restates (round 13) — hand-built boundary rows, 10 s tumbling
    windows, 5 s delay, three replayed file chunks:

    - the LATE-events filter lags eviction by one micro-batch
      (Spark 3.4+ split watermark): a row arriving in batch b is
      dropped iff window.end <= max event time over batches <= b-2,
      minus the delay — NON-STRICT (the end == wm probe at 96 s drops);
    - eviction/emission is non-strict too (the end == final-wm probe
      at [190,200) emits);
    - a batch's inputs aggregate BEFORE its eviction (the 101.5 s row
      joins [100,110) in the same batch that evicts it: n=3);
    - the availableNow no-data batch advances eviction and emits the
      remaining closed windows; windows past the final watermark
      ([200,210)) are never emitted;
    - append emits each window exactly once (the dropped 89.5/96 s
      rows would otherwise re-emit [80,90)/[90,100) as duplicates).
    """
    import os

    src = tmp_path / "src"
    S = 1_000_000

    def mk(ts_us_list, chunk_i):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(ts_us_list)], "id long, us long"
        ).select("id", F.timestamp_micros(F.col("us")).alias("ts"))
        d = src / f"c{chunk_i}"
        df.coalesce(1).write.parquet(str(d))
        for p in d.glob("*.parquet"):
            os.utime(p, (1_700_000_000 + chunk_i, 1_700_000_000 + chunk_i))

    mk([5 * S, 105 * S + 999], 0)
    mk([89 * S, 95 * S, 101 * S, 205 * S + 999, 193 * S], 1)
    mk([89 * S + 500_000, 96 * S, 101 * S + 500_000, 203 * S], 2)

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    agg = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "10 seconds").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("ws_us"),
            F.unix_micros(F.col("w.end")).alias("we_us"),
            "n",
        )
    )
    out = tmp_path / "out"

    def sink(df, bid):
        df.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(
            str(out)
        )

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(
        (r.ws_us // S, r.we_us // S, r.n, r.batch_id)
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == [
        (0, 10, 1, 1),     # closed by wm(batch1)=100
        (80, 90, 1, 1),    # 89 s NOT dropped at batch 1 (late wm lags: still 0)
        (90, 100, 1, 1),   # 95 s likewise; end==evict-wm emits (non-strict)
        (100, 110, 3, 2),  # 101.5 s joined before the batch-2 eviction
        (190, 200, 1, 2),  # end == final wm 200 -> emits (non-strict)
        # [200,210) never emitted; 89.5/96 s dropped (end <= late wm 100)
    ]


def test_watermark_gate_drops_are_nonvacuous():
    """The gate's straggler design must produce BOTH dropped and kept
    late rows (the ADVICE-r12 vacuity class: a late-data gate where
    nothing is ever late verifies nothing). Restates the oracle's drop
    rule in DuckDB and counts."""
    import duckdb

    q = """
    WITH r AS (
      SELECT event_id, epoch_us(ts) AS us,
             row_number() OVER (ORDER BY ts, event_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM events
    ),
    a AS (
      SELECT event_id, us,
             CASE WHEN event_id % 97 = 0
                  THEN LEAST(3, CAST(FLOOR((rnk - 1) * 4.0 / n) AS BIGINT) + 2)
                  ELSE LEAST(3, CAST(FLOOR((rnk - 1) * 4.0 / n) AS BIGINT))
             END AS chunk
      FROM r
    ),
    mx AS (SELECT chunk, max(us) AS mx_us FROM a GROUP BY chunk),
    wm AS (
      SELECT chunk,
             (max(mx_us) OVER (ORDER BY chunk
                ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) // 1000
              - 1800000) * 1000 AS wm_us
      FROM mx
    )
    SELECT
      COUNT(*) FILTER (WHERE wm.wm_us IS NOT NULL
        AND (a.us // 3600000000) * 3600000000 + 3600000000 <= wm.wm_us)
        AS dropped,
      COUNT(*) FILTER (WHERE event_id % 97 = 0) AS stragglers
    FROM a JOIN wm USING (chunk)
    """
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
        dropped, stragglers = con.sql(q).fetchone()
        assert dropped > 0, f"{sf}: no late rows dropped — gate is vacuous"
        assert dropped < stragglers, (
            f"{sf}: every straggler dropped — kept-late case missing"
        )


def test_interval_join_gate_pairs_cross_batches(spark):
    """The stream-stream join gate's one-chunk view delay must make
    MOST attribution pairs cross a micro-batch boundary (purchase in
    state when its view arrives later) — the ADVICE-r12 vacuity guard
    applied to join state. Restates the per-side chunk rule and counts;
    also checks the replay sink emitted across multiple batches."""
    import __spark_entry__ as contract
    from scripts.streaming_scale import scratch_root

    name = "interval_join_streaming_gate"
    qs = contract.queries()
    sf = "/root/testdata/sf0.01"
    rows = qs[name](spark, sf).collect()
    assert rows

    # recompute each side's arrival chunk exactly as the gate staged it
    def chunks(event_type, delay):
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
        )
        q = f"""
        SELECT event_id,
               LEAST(3, CAST(FLOOR((rnk - 1) * 4.0 / n) AS BIGINT) + {delay})
        FROM (
          SELECT event_id,
                 row_number() OVER (ORDER BY ts, event_id) AS rnk,
                 COUNT(*) OVER () AS n
          FROM events WHERE event_type = '{event_type}'
        )
        """
        return {eid: min(3, c) for eid, c in con.sql(q).fetchall()}

    p_chunk = chunks("purchase", 0)
    v_chunk = chunks("view", 1)
    cross = sum(
        1 for r in rows if v_chunk[r.view_id] > p_chunk[r.purchase_id]
    )
    assert cross > len(rows) / 2, (cross, len(rows))

    sink = scratch_root(name, sf) / "out"
    emitted = spark.read.parquet(str(sink)).collect()
    assert len({r.batch_id for r in emitted}) >= 2
    # every pair emits at the batch where its LATER side arrives
    for r in emitted:
        assert r.batch_id == max(
            p_chunk[r.purchase_id], v_chunk[r.view_id]
        ), (r.purchase_id, r.view_id, r.batch_id)
