"""Behavioral analytics over the events/documents tables: funnel
conversion, cohort retention, TF-IDF term ranking, anomaly flagging.

These extend the reference's audit/QA analytics (SURVEY §2.8,
ref: models/audit/**) with the user-journey and corpus-statistics
passes a training-data pipeline runs beside its cleaning stages.

Cross-engine-exact output discipline (registry.py conventions):
integer counts everywhere; rates are a SINGLE IEEE division (correctly
rounded identically in Spark and DuckDB); no libm transcendentals in
compared columns — TF-IDF ranks by tf/df (one division) instead of
tf*ln(N/df), and the spike threshold is an explicit sum/sumsq
expression tree evaluated in the same op order on both engines, not
the engines' differing stddev accumulators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, table

# ---------------------------------------------------------------------------
# Funnel conversion: view -> click -> purchase, order-sensitive.
# ---------------------------------------------------------------------------


# Order-sensitive funnel flags in DuckDB: running-max stage flags per
# user, a click counting only after a view (q_click).
_FUNNEL_FLAG_CTES = """
    WITH lvl1 AS (
      SELECT user_id,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS seen_view,
             ts, event_id
      FROM events
    ),
    lvl2 AS (
      SELECT user_id, is_view, is_purchase,
             is_click * seen_view AS q_click,
             max(is_click * seen_view) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS seen_q_click
      FROM lvl1
    )"""


@query(
    "funnel_view_click_purchase",
    oracle=f"""{_FUNNEL_FLAG_CTES},
    per_user AS (
      SELECT user_id,
             max(is_view) AS u_view,
             max(q_click) AS u_click,
             max(is_purchase * seen_q_click) AS u_purchase
      FROM lvl2
      GROUP BY user_id
    )
    SELECT CAST(SUM(u_view) AS BIGINT) AS users_view,
           CAST(SUM(u_click) AS BIGINT) AS users_click_after_view,
           CAST(SUM(u_purchase) AS BIGINT) AS users_purchase_after_click,
           CAST(SUM(u_click) AS DOUBLE) / SUM(u_view) AS view_to_click_rate,
           CAST(SUM(u_purchase) AS DOUBLE) / SUM(u_click)
             AS click_to_purchase_rate
    FROM per_user
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive conversion funnel: a click counts only at-or-after
    the user's first view, a purchase only at-or-after the first such
    qualified click. Running-max stage flags over ONE window partition
    per user replace the naive per-stage self-joins — a single exchange
    on user_id regardless of funnel depth, then a map-side-combinable
    per-user max and a scalar rollup. At 100 TB the widest shuffle
    carries one row per event exactly once.
    """
    from ..operators.behavior import funnel_user_flags

    e = table(spark, sf_dir, "events")
    flags = funnel_user_flags(e, ["view", "click", "purchase"])
    return flags.agg(
        F.sum("stage_0").cast("long").alias("users_view"),
        F.sum("stage_1").cast("long").alias("users_click_after_view"),
        F.sum("stage_2").cast("long").alias("users_purchase_after_click"),
        (F.sum("stage_1").cast("double") / F.sum("stage_0")).alias(
            "view_to_click_rate"
        ),
        (F.sum("stage_2").cast("double") / F.sum("stage_1")).alias(
            "click_to_purchase_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Cohort retention: first-activity month x months-since-cohort.
# ---------------------------------------------------------------------------


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, ts,
             min(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events
    )
    SELECT strftime(first_ts, '%Y-%m-%d') AS cohort_day,
           date_diff('day', CAST(first_ts AS DATE), CAST(ts AS DATE))
             AS day_offset,
           COUNT(DISTINCT user_id) AS active_users
    FROM firsts
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users bucketed by the day of
    their first event, counted distinct at every later day offset
    (whole-day integer arithmetic; the testdata spans one month, so
    daily grain gives a real matrix where monthly would collapse to one
    cell). Two exchanges total at any scale: the per-user window min,
    then the (cohort, offset) distinct-count — both map-side
    combinable."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    firsts = e.select("user_id", "ts", F.min("ts").over(w).alias("first_ts"))
    return firsts.groupBy(
        F.date_format("first_ts", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff(F.to_date("ts"), F.to_date("first_ts")).alias("day_offset"),
    ).agg(F.count_distinct("user_id").alias("active_users"))


# ---------------------------------------------------------------------------
# TF-IDF top terms per document (exact integer/rational ordering).
# ---------------------------------------------------------------------------


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents,
           UNNEST(regexp_split_to_array(lower(text), '[^a-z]+')) AS t(term)
      WHERE t.term <> ''
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term
             ) AS rnk
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, df, rnk
    FROM scored WHERE rnk <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by TF-IDF ordering.

    The rank key is tf/df — ONE correctly-rounded IEEE division over
    exact integers, monotone in tf * idf for any fixed monotone idf
    transform within a document, so the ranking is engine-exact without
    putting ln() (whose last-ulp differs between libm and DuckDB) into
    a compared or ordering column. Shuffle budget: token explode
    pipelines with the scan; (doc, term) tf agg and term df agg are
    map-side combinable; df joins back (AQE broadcasts it when small);
    the per-doc top-3 runs under WindowGroupLimit so only each
    partition's running top-3 survives the final exchange."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") / F.col("df")).desc(), F.col("term")
    )
    return (
        tf.join(df, "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "rnk")
    )


# ---------------------------------------------------------------------------
# Anomaly flagging: hourly error-rate spike via explicit-sums z-score.
# ---------------------------------------------------------------------------


@query(
    "anomaly_error_spike",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n_errors
      FROM events WHERE event_type = 'error'
      GROUP BY 1
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(n_errors) AS DOUBLE) AS s,
             CAST(SUM(n_errors * n_errors) AS DOUBLE) AS ss
      FROM hourly
    )
    SELECT epoch_us(hour_ts) AS hour_us, n_errors,
           CASE WHEN CAST(n_errors AS DOUBLE)
                     > s / n + 3.0 * sqrt(GREATEST(ss / n - (s / n) * (s / n),
                                                   0.0))
                THEN 1 ELSE 0 END AS is_spike
    FROM hourly CROSS JOIN stats
    """,
)
def anomaly_error_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag hours whose error count exceeds mean + 3 sigma across all
    observed hours. The mean/variance come from exact BIGINT sum and
    sum-of-squares, combined in an explicit double expression tree
    (identical op order on both engines — never the engines' internal
    stddev accumulators, which differ in summation order). The stats
    row is a 1-row broadcast; the hourly agg is map-side combinable, so
    the whole detector is one shuffle at any scale."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.count("*").alias("n_errors"))
    )
    stats = hourly.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("n_errors").cast("double").alias("s"),
        F.sum(F.col("n_errors") * F.col("n_errors")).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    sigma = F.sqrt(
        F.greatest(F.col("ss") / F.col("n") - mean * mean, F.lit(0.0))
    )
    return (
        hourly.crossJoin(F.broadcast(stats))
        .select(
            F.unix_micros("hour_ts").alias("hour_us"),
            "n_errors",
            F.when(F.col("n_errors").cast("double") > mean + 3.0 * sigma, 1)
            .otherwise(0)
            .alias("is_spike"),
        )
    )


# ---------------------------------------------------------------------------
# Event-transition matrix: first-order Markov counts over user journeys.
# ---------------------------------------------------------------------------


@query(
    "event_transition_matrix",
    oracle="""
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    counts AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM pairs WHERE to_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type) AS p_transition
    FROM counts
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + probabilities over each
    user's event sequence (lead() pairs, per-user ordering ties broken
    by event_id). The probability is one IEEE division of exact BIGINT
    counts (engine-exact). Shuffles: the lead window exchange on
    user_id, the pair-count agg (map-side combinable), and a tiny
    window over the #event_type^2-row matrix."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt)).alias("p_transition"),
    )
