"""Sessionization + cardinality-sketch contract queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sketches import hll_sketch, kmv_estimate, sql_hll_sketch, sql_kmv_estimate
from ..streaming.sessionize import sessionize_batch
from .behavior_queries import _FUNNEL_FLAG_CTES
from .registry import query, table


# 30-minute gap sessionization in DuckDB: a lag start flag, then a
# running sum of the flags numbers each user's sessions.
_GAP_SEQ_CTES = """
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    seq AS (
      SELECT *, CAST(SUM(is_start) OVER (
        PARTITION BY user_id ORDER BY ts_us, event_id
        ROWS UNBOUNDED PRECEDING
      ) AS BIGINT) AS session_seq
      FROM s
    )"""
_GAP_SESSIONS_ORACLE = f"""{_GAP_SEQ_CTES}
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           min(ts_us) AS session_start_us,
           max(ts_us) AS session_end_us
    FROM seq
    GROUP BY user_id, session_seq
    """


@query("sessionize_gap30m", oracle=_GAP_SESSIONS_ORACLE)
def sessionize_gap30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min): lag -> start flag -> running
    sum -> per-session rollup. The streaming twin is the
    applyInPandasWithState operator in streaming/sessionize.py."""
    e = table(spark, sf_dir, "events")
    s = sessionize_batch(e)
    return (
        s.withColumn("ts_us", F.unix_micros("ts"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
        )
    )


@query(
    "sessionize_builtin_window",
    oracle=f"""{_GAP_SEQ_CTES}
    SELECT user_id,
           COUNT(*) AS n_events,
           min(ts_us) AS session_start_us,
           max(ts_us) + 1800000000 AS session_end_us
    FROM seq
    GROUP BY user_id, session_seq
    """,
)
def sessionize_builtin_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window aggregate —
    the same 30-min-gap semantics as sessionize_gap30m but expressed
    as one groupBy(user, session_window(ts)) instead of lag+cumsum
    (boundary check: events exactly gap-apart MERGE in both forms, so
    the lag oracle's strict '>' matches). One shuffle on user_id, with
    the session merge running inside the aggregate — also the exact
    form Structured Streaming accepts for watermarked streaming
    sessions, where the lag+cumsum formulation is inexpressible.
    session_end = last event + gap, per session_window's definition.
    This IS streaming/sessionize.py::sessionize_session_window run on
    batch input (the watermark is a no-op there), so the oracle check
    covers the streaming operator's aggregation logic too."""
    from ..streaming.sessionize import sessionize_session_window

    e = table(spark, sf_dir, "events")
    s = sessionize_session_window(e, gap="30 minutes")
    return s.select(
        "user_id",
        "n_events",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
    )


@query(
    "asof_join_last_purchase",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, max(value) AS last_purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, p.last_purchase_value
    FROM events e
    ASOF LEFT JOIN purchases p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: enrich every event with the user's most recent
    purchase value at-or-before the event, vs DuckDB's native ASOF JOIN
    as oracle. Uses the broadcast formulation (per-user purchase history
    broadcast as sorted arrays, zero Exchange on the events branch) —
    the right side is bounded by distinct purchasing users. The
    union+window ``asof_join`` is the reference it is equivalence-tested
    against (tests/test_operators.py) and the form for a right side
    over the broadcast bound."""
    from ..operators.asof import asof_join_broadcast

    e = table(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))
    )
    joined = asof_join_broadcast(
        e.select("event_id", "user_id", "ts"),
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_purchase_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "last_purchase_value",
    )


@query(
    "sketch_kmv_distinct",
    oracle=sql_kmv_estimate("events", "user_id", k=64),
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch over events.user_id — a deterministic,
    engine-portable cardinality estimator (oracle checks the sketch
    itself, not just its error)."""
    e = table(spark, sf_dir, "events")
    return kmv_estimate(e, F.col("user_id"), k=64)


@query(
    "sketch_hll_registers",
    oracle=sql_hll_sketch("events", "event_id", m=64),
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register state over events.event_id, cell-exact vs
    the DuckDB oracle (both engines derive register index and rho from
    the same md5 bits with integer/string ops — see
    operators/sketches.py::hll_sketch). Constant m=64-register state,
    one map-side-combinable groupBy; merge across shards/micro-batches
    is element-wise max (idempotent, so replay-safe). The estimate
    quality and merge law are pinned in tests/test_operators.py."""
    e = table(spark, sf_dir, "events")
    return hll_sketch(e, F.col("event_id"), m=64)


@query(
    "sketch_quantile_sample",
    oracle="""
    WITH tagged AS (
      SELECT value, md5(CAST(event_id AS VARCHAR) || 'qsk-v1') AS tag
      FROM events
    ),
    sample AS (
      SELECT value FROM tagged ORDER BY tag LIMIT 256
    )
    SELECT COUNT(*) AS sample_k,
           quantile_disc(value, 0.5) AS p50_est,
           quantile_disc(value, 0.9) AS p90_est
    FROM sample
    """,
)
def sketch_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory quantile estimation: a deterministic md5 bottom-k
    row sample (the KMV idea applied to rows) feeds percentile_disc —
    p50/p90 estimates from 256 rows of state no matter the corpus size,
    where the exact stats_percentiles pays a per-group sort of
    everything. The sample is engine-exact (same md5 order both
    engines, estimates are SELECTED elements), and mergeable: shard
    samples union + re-take bottom-k, identical to a single pass.
    Plan: one TakeOrdered (per-partition heap + k-row driver merge) —
    no full shuffle. Estimate error bound vs the exact percentiles is
    pinned in pytest."""
    e = table(spark, sf_dir, "events")
    tagged = e.select(
        "value",
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit("qsk-v1"))).alias(
            "tag"
        ),
    )
    sample = tagged.orderBy("tag").limit(256).select("value")
    return sample.agg(
        F.count("*").alias("sample_k"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias(
            "p50_est"
        ),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias(
            "p90_est"
        ),
    )


_HLL_M = 64
_HLL_ALPHA = "CAST(0.709 AS DOUBLE)"  # alpha_64, the standard constant
_POW49 = 1 << 49  # rho <= 49, so 2^(49-rho) is an exact BIGINT


@query(
    "sketch_hll_estimate",
    oracle=f"""
    WITH reg AS ({sql_hll_sketch("events", "event_id", m=_HLL_M)}),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_filled,
             CAST(SUM(CAST(1 AS BIGINT) << (49 - max_rho)) AS BIGINT)
               AS denom_filled
      FROM reg
    ),
    est AS (
      SELECT n_filled,
             {_HLL_M} - n_filled AS zeros,
             denom_filled
               + ({_HLL_M} - n_filled) * CAST({_POW49} AS BIGINT)
               AS denom_scaled
      FROM agg
    )
    SELECT CAST({_HLL_M} AS INTEGER) AS m,
           n_filled,
           CAST(zeros AS BIGINT) AS zeros,
           denom_scaled,
           (({_HLL_ALPHA} * {_HLL_M * _HLL_M}) * CAST({_POW49} AS BIGINT))
             / CAST(denom_scaled AS DOUBLE) AS raw_est,
           (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) FROM events)
             AS exact_distinct,
           CASE WHEN ((({_HLL_ALPHA} * {_HLL_M * _HLL_M})
                        * CAST({_POW49} AS BIGINT))
                       / CAST(denom_scaled AS DOUBLE)) <= {2.5 * _HLL_M}
                     AND zeros > 0
                THEN 1 ELSE 0 END AS is_small_range
    FROM est
    """,
)
def sketch_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL ESTIMATE leg, closing the build->estimate lifecycle the
    way round 11's sketch_countmin_estimate closed Count-Min's: the
    m=64 register state (sketch_hll_registers, gate-green since r6)
    reduced to the raw HyperLogLog cardinality estimate NEXT TO the
    exact distinct count, entirely inside the engine — no driver-side
    hll_estimate() call, no collect.

    Engine-exact numerics: the harmonic denominator is the EXACT
    integer sum of 2^(49-rho) (rho <= 49, so each term and the sum fit
    BIGINT), empty registers contribute 2^49 exactly; the numerator
    alpha*m^2*2^49 rounds ONCE (alpha*m^2 — multiplying by 2^49 is
    exact), and the final IEEE division is correctly rounded on both
    engines, so the estimate hash-matches DuckDB bit-for-bit. The
    small-range regime is emitted as a FLAG (is_small_range) rather
    than applying the linear-counting correction inline, because that
    correction needs ln() — transcendentals are not cross-engine
    ulp-stable (see .claude/skills/verify gotchas); the corrected
    value is pinned in pytest instead via operators/sketches.py::
    hll_estimate.

    Scale shape: one map-side-combinable groupBy onto m=64 register
    rows, a single-row reduction of those, and an exact distinct
    (itself a two-phase partial agg) — the only data-sized pass is the
    scan; the estimate math runs on 64 rows. At 100 TB the register
    state is still 64 rows, mergeable across shards/streams by
    element-wise max (idempotent, replay-safe).
    """
    e = table(spark, sf_dir, "events")
    reg = hll_sketch(e, F.col("event_id"), m=_HLL_M)
    agg = reg.agg(
        F.count("*").cast("long").alias("n_filled"),
        # SQL shiftleft: the Python F.shiftleft only takes an int shift
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 49 - max_rho)"))
        .cast("long")
        .alias("denom_filled"),
    )
    est = agg.select(
        "n_filled",
        (F.lit(_HLL_M).cast("long") - F.col("n_filled")).alias("zeros"),
        (
            F.col("denom_filled")
            + (F.lit(_HLL_M).cast("long") - F.col("n_filled"))
            * F.lit(_POW49).cast("long")
        ).alias("denom_scaled"),
    )
    # (alpha * m^2) * 2^49: one float rounding, then an exact pow-2 scale
    numer = (
        F.lit(0.709) * F.lit(_HLL_M * _HLL_M)
    ) * F.lit(_POW49).cast("long")
    raw_est = numer / F.col("denom_scaled").cast("double")
    exact = e.agg(
        F.countDistinct("event_id").cast("long").alias("exact_distinct")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(_HLL_M).cast("int").alias("m"),
        "n_filled",
        "zeros",
        "denom_scaled",
        raw_est.alias("raw_est"),
        "exact_distinct",
        F.when((raw_est <= F.lit(2.5 * _HLL_M)) & (F.col("zeros") > 0), 1)
        .otherwise(0)
        .alias("is_small_range"),
    )


from ..operators.sketches import (  # noqa: E402
    bloom_build,
    bloom_probe,
    sql_bloom_words_cte,
)

_BLOOM_KILL_PRED = "doc_id % 11 = 0 AND doc_id < 693"  # ~63 bounded keys
_BLOOM_SLICES = ", ".join(
    f"CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'bloom-v1'),"
    f" {1 + 6 * i}, 6) AS BIGINT) % 504 AS INTEGER)"
    for i in range(3)
)


@query(
    "sketch_bloom_membership",
    oracle=f"""
    WITH words AS (
      {sql_bloom_words_cte(
          f"(SELECT doc_id FROM documents WHERE {_BLOOM_KILL_PRED})",
          "doc_id",
      )}
    ),
    fill AS (
      SELECT CAST(SUM(bit_count(mask)) AS BIGINT) AS set_bits FROM words
    ),
    probes AS (
      SELECT doc_id, CAST(pos // 63 AS INTEGER) AS word, pos % 63 AS bit
      FROM (SELECT doc_id, unnest([{_BLOOM_SLICES}]) AS pos FROM documents)
    ),
    hit AS (
      SELECT p.doc_id,
             CAST(MIN((COALESCE(w.mask, 0) >> p.bit) & 1) AS INTEGER)
               AS maybe_present
      FROM probes p LEFT JOIN words w USING (word)
      GROUP BY p.doc_id
    )
    SELECT maybe_present,
           CASE WHEN {_BLOOM_KILL_PRED} THEN 1 ELSE 0 END
             AS actually_present,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           (SELECT set_bits FROM fill) AS set_bits
    FROM hit
    GROUP BY 1, 2
    """,
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership — the kill-list primitive a 100 TB
    pipeline broadcasts instead of joining: an 8x63-bit filter built
    over a BOUNDED key set (the dedup kill-list shape, ~63 doc ids),
    probed by every document, with the confusion cells (true-positive /
    false-positive / true-negative; a false-negative cell is
    IMPOSSIBLE by construction and its absence is part of the oracle)
    counted next to the filter's popcount fill.

    Engine-exact by the same recipe as KMV/HLL/CMS: bit positions are
    k=3 disjoint 24-bit md5 slices mod 504, words stay under the
    BIGINT sign bit (63 bits/word), the build is bit_or and the probe
    shift/AND — pure integer ops, so the DuckDB twin hash-matches
    bit-for-bit INCLUDING the deterministic false positives.

    Scale shape: build = one map-side-combinable groupBy onto 8 rows;
    probe = broadcast of those 8 rows, zero shuffle on the corpus side
    before the final cell count; merge across shards/micro-batches =
    element-wise OR (idempotent, replay-safe, same law class as the
    HLL registers' max)."""
    d = table(spark, sf_dir, "documents")
    kill_pred = (F.col("doc_id") % 11 == 0) & (F.col("doc_id") < 693)
    words = bloom_build(
        d.filter(kill_pred).select("doc_id"), F.col("doc_id")
    )
    fill = words.agg(
        F.sum(F.bit_count("mask")).cast("long").alias("set_bits")
    )
    probed = bloom_probe(d.select("doc_id"), F.col("doc_id"), words)
    return (
        probed.select(
            "maybe_present",
            F.when(kill_pred, 1).otherwise(0).alias("actually_present"),
        )
        .groupBy("maybe_present", "actually_present")
        .agg(F.count("*").cast("long").alias("n_keys"))
        .crossJoin(F.broadcast(fill))
    )


from ..operators.sketches import kmv_theta_ops, sql_kmv_theta_ops  # noqa: E402


@query(
    "sketch_theta_overlap",
    oracle=sql_kmv_theta_ops(
        "(SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01')",
        "o_custkey",
        "(SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')",
        "o_custkey",
        k=64,
    ),
)
def sketch_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: estimated union / intersection /
    Jaccard between the early-era (pre-1997) and late-era (2000+)
    customer bases, from two 64-hash KMV states and NO join of the raw
    corpora anywhere (``operators/sketches.py::kmv_theta_ops``). The
    oracle restates the full sketch algebra, so every estimate is
    cross-engine exact. The 100 TB use: cross-corpus overlap /
    contamination rates (train vs eval, shard vs shard) from per-shard
    sketch states instead of a distinct-join of the corpora."""
    o = table(spark, sf_dir, "orders")
    cut_lo = F.lit("1997-01-01").cast("timestamp")
    cut_hi = F.lit("2000-01-01").cast("timestamp")
    return kmv_theta_ops(
        o.filter(F.col("o_orderdate") < cut_lo),
        F.col("o_custkey"),
        o.filter(F.col("o_orderdate") >= cut_hi),
        F.col("o_custkey"),
        k=64,
    )


@query(
    "asof_forward_next_purchase",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, max(value) AS next_purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ),
    matched AS (
      SELECT e.event_id, min_by(p.next_purchase_value, p.ts) AS next_purchase_value
      FROM events e JOIN purchases p ON e.user_id = p.user_id
        AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 3 DAY
      GROUP BY e.event_id
    )
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           m.next_purchase_value
    FROM events e LEFT JOIN matched m ON e.event_id = m.event_id
    """,
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with tolerance (the full merge_asof surface —
    round 7): enrich every event with the user's NEXT purchase value
    at-or-after the event, but only within 3 days (beyond-tolerance
    matches resolve to NULL, the time-to-conversion attribution shape).
    The oracle derives the same answer relationally (bounded range join
    + min_by), so direction AND tolerance semantics are both externally
    proven; the backward twin is `asof_join_last_purchase`. Same
    broadcast formulation: per-user purchase histories broadcast as
    sorted arrays, zero Exchange on the events branch; all three
    directions are differential-tested against pandas merge_asof in
    tests/test_operators.py."""
    from ..operators.asof import asof_join_broadcast

    e = table(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("next_purchase_value"))
    )
    joined = asof_join_broadcast(
        e.select("event_id", "user_id", "ts"),
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["next_purchase_value"],
        direction="forward",
        tolerance=F.expr("INTERVAL 3 DAYS"),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "next_purchase_value",
    )


@query("sessionize_streaming_gate", oracle=_GAP_SESSIONS_ORACLE)
def sessionize_streaming_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL STREAMING sessionizer under the external oracle
    gate (round 9): events are staged as four time-ordered file chunks
    with ascending mtimes, replayed as a real Structured Streaming
    file source with ``maxFilesPerTrigger=1`` + ``availableNow`` — so
    per-user GroupState must survive FOUR micro-batch boundaries — and
    the update-mode emissions land in a parquet sink via foreachBatch
    with their batch_id. The final read resolves each (user, session)
    to its LAST emission (update-sink semantics) and must hash-match
    the same 30-min-gap sessionization stated declaratively over the
    batch table: its oracle is its batch twin ``sessionize_gap30m``'s,
    ``_GAP_SESSIONS_ORACLE``. This externalizes what
    tests/test_sessionize_scd.py proves on toy rows: exactly-once
    cross-batch state at corpus scale (streaming/sessionize.py:103,
    the applyInPandasWithState path)."""
    from ..streaming.replay import (
        latest_emission,
        run_update_replay,
        stage_time_ordered_chunks,
    )
    from ..streaming.sessionize import sessionize_stateful
    from .lifecycle_queries import _scratch

    root = _scratch("sessionize_streaming_gate", sf_dir)

    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    glob = stage_time_ordered_chunks(
        e, root / "src", "user_id", ["ts_us"]
    )
    stream = (
        spark.readStream.schema("user_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
    )
    emitted = run_update_replay(
        spark,
        sessionize_stateful(stream.groupBy("user_id")),
        root / "out",
        root / "ckpt",
    )
    return latest_emission(emitted, ["user_id", "session_seq"]).select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        F.col("n_events").alias("n_events"),
        F.col("start_us").alias("session_start_us"),
        F.col("last_us").alias("session_end_us"),
    )


@query(
    "alerts_streaming_gate",
    oracle="""
    WITH r AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rnk,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    c AS (
      SELECT user_id, cents,
             LEAST(3, CAST(FLOOR(((rnk - 1) * 4.0) / n) AS BIGINT)) AS chunk
      FROM r
    ),
    per_chunk AS (
      SELECT user_id, chunk, CAST(SUM(cents) AS BIGINT) AS chunk_cents
      FROM c GROUP BY 1, 2
    ),
    pref AS (
      SELECT user_id, chunk,
             CAST(SUM(chunk_cents) OVER (
               PARTITION BY user_id ORDER BY chunk
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      FROM per_chunk
    ),
    crossing AS (
      SELECT user_id, cum_cents,
             row_number() OVER (PARTITION BY user_id ORDER BY chunk) AS rn
      FROM pref WHERE cum_cents >= 150000
    )
    SELECT user_id,
           CAST(cum_cents AS DOUBLE) / 100 AS total,
           CAST(cum_cents AS DOUBLE) / 100 AS crossed_at_total
    FROM crossing WHERE rn = 1
    """,
)
def alerts_streaming_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL STREAMING threshold alert under the external
    oracle gate: events replay through ``streaming/alerts.py::
    spend_alerts_legacy`` (GroupState running total + alerted-once
    latch, append mode — ONE row per user, emitted the first
    micro-batch its cumulative spend crosses $1500, never again). The
    alert value is inherently BATCH-granular (the total is checked
    after each micro-batch accumulates), so the oracle restates the
    replay's deterministic chunking exactly — per-user rank quartiles,
    the same cut rule ``streaming/replay.py`` stages — and computes
    each user's first quartile-prefix crossing in SQL. A hash match
    therefore proves cross-batch accumulation, the exactly-once latch,
    AND that the harness's batch boundaries are the ones the oracle
    thinks they are."""
    from ..streaming.alerts import spend_alerts_legacy
    from ..streaming.replay import run_update_replay, stage_time_ordered_chunks
    from .lifecycle_queries import _scratch

    root = _scratch("alerts_streaming_gate", sf_dir)

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    glob = stage_time_ordered_chunks(
        e, root / "src", "user_id", ["ts_us", "event_id"]
    )
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts_us long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
    )
    emitted = run_update_replay(
        spark,
        spend_alerts_legacy(stream.groupBy("user_id"), threshold=1500.0),
        root / "out",
        root / "ckpt",
        output_mode="append",
    )
    # append semantics: exactly one emission per alerted user — no
    # latest-resolution needed (a duplicate would double a row and
    # break the hash, which is exactly what the latch check wants).
    return emitted.select("user_id", "total", "crossed_at_total")


@query(
    "funnel_streaming_gate",
    oracle=f"""{_FUNNEL_FLAG_CTES}
    SELECT user_id,
           CAST(max(is_view) + max(q_click)
                + max(is_purchase * seen_q_click) AS BIGINT) AS stage_reached
    FROM lvl2
    GROUP BY user_id
    """,
)
def funnel_streaming_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL STREAMING funnel under the external oracle gate:
    events replay through ``streaming/funnel.py::funnel_stateful``
    (per-user stage machine in GroupState) across four micro-batches
    via the file-replay harness (``streaming/replay.py``), each user's
    LAST emission is the final stage count, and the result must
    hash-match the batch running-max-flag formulation stated
    declaratively by the DuckDB oracle — per user, not just the scalar
    rollup ``funnel_view_click_purchase`` checks. Greedy
    earliest-advance across batch boundaries equals the batch
    semantics because the running-max flags mark exactly the first
    qualified occurrence of each stage (streaming/funnel.py module
    docstring); a user whose journey straddles micro-batches proves
    the carried stage machine."""
    from ..streaming.funnel import funnel_stateful
    from ..streaming.replay import (
        latest_emission,
        run_update_replay,
        stage_time_ordered_chunks,
    )
    from .lifecycle_queries import _scratch

    root = _scratch("funnel_streaming_gate", sf_dir)

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    )
    glob = stage_time_ordered_chunks(
        e, root / "src", "user_id", ["ts_us", "event_id"]
    )
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts_us long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
    )
    emitted = run_update_replay(
        spark,
        funnel_stateful(stream.groupBy("user_id"), ["view", "click", "purchase"]),
        root / "out",
        root / "ckpt",
    )
    return latest_emission(emitted, ["user_id"]).select(
        "user_id", F.col("stage_reached").cast("long").alias("stage_reached")
    )


_HOUR_US = 3_600_000_000
_WM_DELAY_MS = 1_800_000  # 30 minutes


@query(
    "watermark_late_data_gate",
    oracle=f"""
    WITH r AS (
      SELECT event_id, event_type, epoch_us(ts) AS us,
             row_number() OVER (ORDER BY ts, event_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM events
    ),
    a AS (
      SELECT event_id, event_type, us,
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
              - {_WM_DELAY_MS}) * 1000 AS wm_us
      FROM mx
    ),
    kept AS (
      SELECT a.event_type,
             (a.us // {_HOUR_US}) * {_HOUR_US} AS ws_us
      FROM a JOIN wm USING (chunk)
      WHERE wm.wm_us IS NULL
         OR (a.us // {_HOUR_US}) * {_HOUR_US} + {_HOUR_US} > wm.wm_us
    ),
    fin AS (
      SELECT (max(us) // 1000 - {_WM_DELAY_MS}) * 1000 AS wm_us FROM a
    )
    SELECT ws_us AS window_start_us, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM kept, fin
    WHERE ws_us + {_HOUR_US} <= fin.wm_us
    GROUP BY 1, 2
    """,
)
def watermark_late_data_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK + LATE-DATA semantics under the external oracle gate
    (new round 13): the canonical Structured Streaming feature —
    ``withWatermark`` bounding a tumbling-window aggregation in APPEND
    mode (streaming/ingest.py::windowed_event_counts) — replayed over
    four file chunks where ~1% of rows are STRAGGLERS displaced TWO
    chunks later than their event-time quartile (event_id % 97, the
    out-of-order arrivals watermarks exist for; two, not one, because
    the late-events watermark lags eviction by one micro-batch — a
    one-chunk displacement is provably never late, the vacuity trap
    ADVICE r12 caught in the ingest gate). The oracle restates
    Spark's watermark algebra in SQL, boundary-exact:

    - Spark 3.4+ splits the watermark in two (the late-events filter
      lags eviction by one micro-batch): a row arriving in batch b is
      DROPPED iff its window END <= the LATE watermark = running max
      event time over batches <= b-2 (ms-truncated — Spark tracks
      event-time stats in ms) minus the 30-minute delay; EVICTION in
      batch b uses batches <= b-1. The lag is self-consistent: any
      window evicted at batch b has end <= wm_evict(b) <=
      wm_late(b') for every b' > b, so a late row for an
      already-emitted window is ALWAYS dropped (append's exactly-once
      holds), and a kept late row's window provably hasn't been
      evicted yet — which is why the oracle only needs the lagged
      drop rule plus the final eviction horizon. All four boundary
      behaviors (non-strict <= on both rules, input-aggregates-before-
      eviction, the one-batch lag, the final no-data batch) were
      pinned empirically on hand-built boundary rows this round;
    - append mode emits a window exactly once, when the watermark
      passes its end; after the last file, the availableNow no-data
      batch advances the eviction watermark to (global max - delay)
      and emits every window with end <= it — later windows (the
      final partial hour) are legitimately never emitted and the
      oracle excludes them identically.

    A hash match therefore proves the drop rule, the emission rule,
    the exactly-once append contract (a double emission doubles a row)
    AND the ms truncation, against an independent restatement.

    100 TB shape: watermarking is the mechanism that BOUNDS streaming
    aggregation state — without it the window state grows without
    limit; with it, state is (windows within delay horizon) x keys,
    independent of stream length. The gate's chunk staging is harness
    scaffolding; the measured operator is one watermarked groupBy
    (map-side combinable) per micro-batch."""
    from ..streaming.ingest import windowed_event_counts
    from ..streaming.replay import run_update_replay, stage_keyed_chunks
    from .lifecycle_queries import _scratch

    root = _scratch("watermark_late_data_gate", sf_dir)
    e = table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    wspec = Window.orderBy("ts_us", "event_id")
    n_all = F.count("*").over(Window.partitionBy())
    tchunk = F.least(
        F.lit(3),
        F.floor((F.row_number().over(wspec) - F.lit(1)) * 4 / n_all),
    )
    chunk = (
        F.when(F.col("event_id") % 97 == 0, F.least(F.lit(3), tchunk + 2))
        .otherwise(tchunk)
    )
    glob = stage_keyed_chunks(e, root / "src", chunk, n_chunks=4)
    stream = (
        spark.readStream.schema("event_id long, ts_us long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
        .select(
            F.timestamp_micros(F.col("ts_us")).alias("ts"), "event_type"
        )
    )
    agg = windowed_event_counts(
        stream,
        ts_col="ts",
        key_col="event_type",
        window_duration="1 hour",
        watermark_delay="30 minutes",
    )
    emitted = run_update_replay(
        spark, agg, root / "out", root / "ckpt", output_mode="append"
    )
    return emitted.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )
