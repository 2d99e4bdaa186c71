"""Aggregation / audit / QA contract queries (SURVEY §2.4, §5).

Counting SUM(CASE...) outputs are cast to BIGINT in the oracle —
DuckDB's integer SUM returns HUGEINT which pandas would widen to float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audit import null_rates, orphan_rates, qa_flags
from .registry import query, table


# ---------------------------------------------------------------------------
# A2: COUNT(DISTINCT) multiplicity flag per group.
# ---------------------------------------------------------------------------
@query(
    "a2_multiplicity_flag",
    oracle="""
    SELECT
      o_custkey,
      CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
      CASE
        WHEN COUNT(DISTINCT o_orderpriority) = 1 THEN 'Unique'
        WHEN COUNT(DISTINCT o_orderpriority) > 1 THEN 'Multiple'
        ELSE 'Unknown'
      END AS priority_multiplicity
    FROM orders
    GROUP BY o_custkey
    """,
)
def a2_multiplicity_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT -> Unique/Multiple flag (ref: stg_customer.sql:28-39,
    int_customer_email_qa.sql:12-18 — SURVEY §2.4 A2)."""
    o = table(spark, sf_dir, "orders")
    n = F.countDistinct("o_orderpriority")
    return o.groupBy("o_custkey").agg(
        n.alias("n_priorities"),
        F.when(n == 1, "Unique")
        .when(n > 1, "Multiple")
        .otherwise("Unknown")
        .alias("priority_multiplicity"),
    )


# ---------------------------------------------------------------------------
# A3: SELECT DISTINCT pair extraction.
# ---------------------------------------------------------------------------
@query(
    "a3_distinct_pairs",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def a3_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT pair extraction (ref: stg_customer.sql:41-47 — A3)."""
    c = table(spark, sf_dir, "customer")
    return c.select("c_nationkey", "c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# A4: null-rate audit (single-pass conditional aggregation).
# ---------------------------------------------------------------------------
@query(
    "a4_null_rate_audit",
    oracle="""
    WITH src AS (
      SELECT
        NULLIF(l_discount, 0.0) AS d_discount,
        NULLIF(l_returnflag, 'N') AS d_returnflag,
        CASE WHEN l_linenumber >= 5 THEN NULL ELSE l_linenumber END AS d_linenumber
      FROM lineitem
    ),
    base AS (
      SELECT
        COUNT(*) AS rows_total,
        CAST(SUM(CASE WHEN d_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_d_discount,
        CAST(SUM(CASE WHEN d_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_d_returnflag,
        CAST(SUM(CASE WHEN d_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_d_linenumber
      FROM src
    )
    SELECT
      rows_total, null_d_discount, null_d_returnflag, null_d_linenumber,
      null_d_discount / rows_total AS null_rate_d_discount,
      null_d_returnflag / rows_total AS null_rate_d_returnflag,
      null_d_linenumber / rows_total AS null_rate_d_linenumber
    FROM base
    """,
)
def a4_null_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-rate audit table (ref: audit_null_rates_stg_order.sql:1-31 —
    A4/F7 safe_divide). Nulls are injected deterministically so the
    rates are nontrivial. run_ts is intentionally omitted (the driver
    compares values; current_timestamp is nondeterministic)."""
    l = table(spark, sf_dir, "lineitem")
    src = l.select(
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("d_discount"),
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("d_returnflag"),
        F.when(F.col("l_linenumber") >= 5, F.lit(None))
        .otherwise(F.col("l_linenumber"))
        .alias("d_linenumber"),
    )
    return null_rates(src, ["d_discount", "d_returnflag", "d_linenumber"])


# ---------------------------------------------------------------------------
# J9/A5: referential orphan-rate audit.
# ---------------------------------------------------------------------------
@query(
    "j9_orphan_rate_audit",
    oracle="""
    SELECT
      COUNT(*) AS fact_rows,
      CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_customer_rows,
      CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS orphan_customer_rate
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def j9_orphan_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-rate audit (ref: audit_orphan_rates.sql:1-33 — J9/A5):
    events.user_id not present in customer. An EXISTS flag per event
    + conditional agg in one pass; the oracle's left join is equal
    because c_custkey is unique."""
    e = table(spark, sf_dir, "events")
    return orphan_rates(
        e, {"customer": (table(spark, sf_dir, "customer"), "c_custkey", e.user_id)}
    )


# ---------------------------------------------------------------------------
# J6/J7: agg-result joined back to detail.
# ---------------------------------------------------------------------------
@query(
    "j6_agg_join_back",
    oracle="""
    WITH user_tot AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS user_total
      FROM events GROUP BY user_id
    )
    SELECT
      e.event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN u.user_total > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_user_events
    FROM events e
    JOIN user_tot u USING (user_id)
    GROUP BY e.event_type
    """,
)
def j6_agg_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key aggregate joined back to detail rows (ref:
    stg_customer.sql:16-26 user_check join, :49-55 email_base join —
    J6/J7). Same-source self-join; at scale prefer the window-function
    rewrite, but parity keeps the reference's join formulation."""
    e = table(spark, sf_dir, "events")
    user_tot = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("user_total")
    )
    return (
        e.join(user_tot, "user_id")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("user_total") > 500, 1).otherwise(0)).alias(
                "n_heavy_user_events"
            ),
        )
    )


# ---------------------------------------------------------------------------
# F2 + QA rules: the 13 boolean row-quality rules of int_order_qa.
# ---------------------------------------------------------------------------
_QA_CONSTRUCT_SQL = """
      SELECT
        event_id,
        user_id,
        event_type,
        CASE
          WHEN user_id % 11 = 0 THEN concat('user', user_id, 'example.com')
          WHEN user_id % 11 = 1 THEN ''
          WHEN user_id % 11 = 2 THEN NULL
          ELSE concat('user', user_id, '@example.com')
        END AS email,
        CASE
          WHEN user_id % 13 = 0 THEN '0.0.0.0'
          WHEN user_id % 13 = 1 THEN '127.0.0.1'
          WHEN user_id % 13 = 2 THEN concat('10.', CAST(user_id % 250 AS VARCHAR), '.0.1')
          WHEN user_id % 13 = 3 THEN concat('192.168.', CAST(user_id % 250 AS VARCHAR), '.9')
          WHEN user_id % 13 = 4 THEN concat('172.', CAST(16 + (user_id % 16) AS VARCHAR), '.0.1')
          WHEN user_id % 13 = 5 THEN 'not-an-ip'
          ELSE concat(CAST(user_id % 250 AS VARCHAR), '.', CAST((user_id * 7) % 250 AS VARCHAR),
                      '.', CAST((user_id * 13) % 250 AS VARCHAR), '.', CAST((user_id * 17) % 250 AS VARCHAR))
        END AS ip,
        concat(
          CASE WHEN user_id % 17 = 0 THEN 'view-source:https://www.glamira.' ELSE 'https://www.glamira.' END,
          CASE WHEN user_id % 5 = 0 THEN 'de' WHEN user_id % 5 = 1 THEN 'co.uk'
               WHEN user_id % 5 = 2 THEN 'se' WHEN user_id % 5 = 3 THEN 'fr' ELSE 'com' END,
          CASE WHEN event_type = 'purchase' AND user_id % 19 != 0 THEN '/checkout/onepage/success' ELSE '/product/123' END
        ) AS current_url,
        CASE WHEN user_id % 3 = 0 THEN 'https://google.com/search' ELSE 'junk-referrer' END AS referrer_url,
        (user_id % 10) - 1 AS quantity,
        CASE WHEN user_id % 23 = 0 THEN -value ELSE value END AS price
      FROM events
"""

@query(
    "f2_qa_rules",
    oracle=f"""
    WITH src AS ({_QA_CONSTRUCT_SQL}),
    flagged AS (
      SELECT
        event_id,
        regexp_matches(lower(trim(email)), '^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$') AS is_email_valid,
        regexp_matches(ip, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$') AS is_ipv4_format,
        ip NOT IN ('0.0.0.0', '127.0.0.1') AS is_not_placeholder_ip,
        NOT (
          ip LIKE '10.%'
          OR regexp_matches(ip, '^192\\.168\\.')
          OR regexp_matches(ip, '^172\\.(1[6-9]|2[0-9]|3[0-1])\\.')
        ) AS is_not_private_ip,
        regexp_matches(trim(current_url), '^https?://') AS is_current_url_valid,
        regexp_matches(trim(referrer_url), '^https?://') AS is_referrer_url_valid,
        CASE WHEN event_type = 'purchase'
             THEN regexp_matches(trim(current_url), '/checkout/onepage/success')
             ELSE TRUE END AS is_success_url_ok,
        quantity > 0 AS is_qty_positive,
        price >= 0 AS is_price_nonnegative,
        quantity * price >= 0 AS is_line_total_nonnegative,
        quantity * price <= 100000 AS is_line_total_reasonable
      FROM src
    )
    SELECT *,
      (is_email_valid AND is_ipv4_format AND is_not_placeholder_ip
       AND is_not_private_ip AND is_current_url_valid AND is_referrer_url_valid
       AND is_success_url_ok AND is_qty_positive AND is_price_nonnegative
       AND is_line_total_nonnegative AND is_line_total_reasonable) AS is_row_valid
    FROM flagged
    """,
)
def f2_qa_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level QA rule flags (ref: int_order_qa.sql:19-95 — F2 regex
    family + the QA rule model, SURVEY §5.3). Messy emails/IPs/URLs are
    constructed deterministically from events so the oracle reproduces
    the same inputs; the rules then run through operators.audit.qa_flags."""
    e = table(spark, sf_dir, "events")
    uid = F.col("user_id")

    email = (
        F.when(uid % 11 == 0, F.concat(F.lit("user"), uid, F.lit("example.com")))
        .when(uid % 11 == 1, F.lit(""))
        .when(uid % 11 == 2, F.lit(None))
        .otherwise(F.concat(F.lit("user"), uid, F.lit("@example.com")))
    )
    ip = (
        F.when(uid % 13 == 0, F.lit("0.0.0.0"))
        .when(uid % 13 == 1, F.lit("127.0.0.1"))
        .when(uid % 13 == 2, F.concat(F.lit("10."), (uid % 250).cast("string"), F.lit(".0.1")))
        .when(uid % 13 == 3, F.concat(F.lit("192.168."), (uid % 250).cast("string"), F.lit(".9")))
        .when(uid % 13 == 4, F.concat(F.lit("172."), (16 + (uid % 16)).cast("string"), F.lit(".0.1")))
        .when(uid % 13 == 5, F.lit("not-an-ip"))
        .otherwise(
            F.concat_ws(
                ".",
                (uid % 250).cast("string"),
                ((uid * 7) % 250).cast("string"),
                ((uid * 13) % 250).cast("string"),
                ((uid * 17) % 250).cast("string"),
            )
        )
    )
    current_url = F.concat(
        F.when(uid % 17 == 0, F.lit("view-source:https://www.glamira.")).otherwise(
            F.lit("https://www.glamira.")
        ),
        F.when(uid % 5 == 0, F.lit("de"))
        .when(uid % 5 == 1, F.lit("co.uk"))
        .when(uid % 5 == 2, F.lit("se"))
        .when(uid % 5 == 3, F.lit("fr"))
        .otherwise(F.lit("com")),
        F.when(
            (F.col("event_type") == "purchase") & (uid % 19 != 0),
            F.lit("/checkout/onepage/success"),
        ).otherwise(F.lit("/product/123")),
    )
    referrer = F.when(uid % 3 == 0, F.lit("https://google.com/search")).otherwise(
        F.lit("junk-referrer")
    )
    qty = (uid % 10) - 1
    price = F.when(uid % 23 == 0, -F.col("value")).otherwise(F.col("value"))

    src = e.select(
        "event_id",
        "event_type",
        email.alias("email"),
        ip.alias("ip"),
        current_url.alias("current_url"),
        referrer.alias("referrer_url"),
        qty.alias("quantity"),
        price.alias("price"),
    )
    flagged = qa_flags(
        src,
        email=F.col("email"),
        ip=F.col("ip"),
        current_url=F.col("current_url"),
        referrer_url=F.col("referrer_url"),
        quantity=F.col("quantity"),
        price=F.col("price"),
        event_type=F.col("event_type"),
    )
    return flagged.drop(
        "event_type", "email", "ip", "current_url", "referrer_url", "quantity", "price"
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name,
      COUNT(*) AS n_rows,
      CAST(COUNT(*) FILTER ({c} IS NULL) AS BIGINT) AS n_null,
      CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
      CAST(MIN({c}) AS VARCHAR) AS min_str,
      CAST(MAX({c}) AS VARCHAR) AS max_str
    FROM orders
    """
    for c in _PROFILE_COLS
)


@query("stats_column_profile", oracle=_PROFILE_ORACLE)
def stats_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the orders table (count / nulls / exact
    ndv / min / max) in ONE distributed aggregate + stack() unpivot —
    the ANALYZE pass of a data-quality gate (extends the reference's
    audit_null_rates beyond null counting). Columns chosen are int /
    string / date so min/max string renderings are engine-identical."""
    from ..operators.audit import column_profile

    o = table(spark, sf_dir, "orders")
    return column_profile(o, _PROFILE_COLS)


@query(
    "stats_histogram",
    oracle="""
    SELECT LEAST(GREATEST(CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT), 0), 19)
             AS bucket,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1
    """,
)
def stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (20 buckets of 25k,
    clamped): bucketing is floor-division + clamp (engine-exact double
    ops, integer outputs), aggregation is one map-side-combinable
    groupBy — the distribution-profiling pass beside
    stats_column_profile."""
    o = table(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 25000.0).cast("long"), F.lit(0)),
        F.lit(19),
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Snapshot drift: distribution shift between two table snapshots
# (chi-square + Kolmogorov-Smirnov over a fixed bucket grid).
# ---------------------------------------------------------------------------
@query(
    "qa_snapshot_drift",
    oracle="""
    WITH b AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 0), 9) AS bucket,
             CASE WHEN o_orderdate < TIMESTAMP '1998-07-01' THEN 1 ELSE 0 END AS is_old
      FROM orders
    ),
    g AS (
      SELECT bucket,
             CAST(SUM(is_old) AS BIGINT) AS n_old,
             CAST(SUM(1 - is_old) AS BIGINT) AS n_new
      FROM b GROUP BY bucket
    ),
    w AS (
      SELECT bucket, n_old, n_new,
             CAST(SUM(n_old) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_old,
             CAST(SUM(n_new) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_new,
             CAST(SUM(n_old) OVER () AS BIGINT) AS t_old,
             CAST(SUM(n_new) OVER () AS BIGINT) AS t_new
      FROM g
    ),
    e AS (
      SELECT *,
             CAST(n_old AS DOUBLE) * CAST(t_new AS DOUBLE) / CAST(t_old AS DOUBLE) AS expected_new
      FROM w
    )
    SELECT bucket, n_old, n_new,
           CAST(n_old * 1000000 // t_old AS BIGINT) AS share_old_ppm,
           CAST(n_new * 1000000 // t_new AS BIGINT) AS share_new_ppm,
           CASE WHEN n_old = 0 THEN NULL
                ELSE CAST(FLOOR(
                  (CAST(n_new AS DOUBLE) - expected_new)
                  * (CAST(n_new AS DOUBLE) - expected_new)
                  / expected_new * 1000000.0 + 0.5) AS BIGINT)
           END AS chi2_term_q1e6,
           CAST(ABS(cum_old * t_new - cum_new * t_old) AS BIGINT) AS ks_scaled
    FROM e
    """,
)
def qa_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between two snapshots of a fact table
    (here: orders before vs after 1998-07-01) on a FIXED bucket grid —
    the data-quality gate a 100 TB warehouse runs between loads before
    publishing (pairs with VersionedTable's write-audit-publish: a
    drift check is exactly the kind of WAP audit callback this
    computes).

    Per bucket: counts, exact-integer ppm shares, the chi-square term
    quantized to micro-units, and the Kolmogorov-Smirnov CDF gap in
    EXACT cross-multiplied integers (``|cum_old*t_new - cum_new*t_old|``
    — max over buckets / (t_old*t_new) is the KS statistic; the cross
    product stays under 2^63 through sf100). PSI is deliberately NOT
    emitted: its ln() is libm-dependent and would break the cross-engine
    exactness discipline; chi-square + KS are pure rational arithmetic.

    One scan, one 10-key map-side-combinable groupBy, then windows over
    the 10-row aggregate — no second pass over the fact."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(0)),
        F.lit(9),
    )
    is_old = F.when(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"), 1
    ).otherwise(0)
    g = o.groupBy(bucket.alias("bucket")).agg(
        F.sum(is_old).cast("bigint").alias("n_old"),
        F.sum(1 - is_old).cast("bigint").alias("n_new"),
    )
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    w = g.select(
        "bucket",
        "n_old",
        "n_new",
        F.sum("n_old").over(cum).cast("bigint").alias("cum_old"),
        F.sum("n_new").over(cum).cast("bigint").alias("cum_new"),
        F.sum("n_old").over(tot).cast("bigint").alias("t_old"),
        F.sum("n_new").over(tot).cast("bigint").alias("t_new"),
    )
    # expected_new staged in its own projection (the round-7 expression-
    # staging rule: multi-referenced non-trivial expressions evaluate
    # once per row, not once per mention).
    e = w.withColumn(
        "expected_new",
        F.col("n_old").cast("double")
        * F.col("t_new").cast("double")
        / F.col("t_old").cast("double"),
    )
    resid = F.col("n_new").cast("double") - F.col("expected_new")
    return e.select(
        "bucket",
        "n_old",
        "n_new",
        F.expr("CAST(n_old * 1000000 DIV t_old AS BIGINT)").alias("share_old_ppm"),
        F.expr("CAST(n_new * 1000000 DIV t_new AS BIGINT)").alias("share_new_ppm"),
        F.when(F.col("n_old") == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.floor(
                resid * resid / F.col("expected_new") * F.lit(1000000.0) + F.lit(0.5)
            ).cast("bigint")
        )
        .alias("chi2_term_q1e6"),
        F.abs(
            F.col("cum_old") * F.col("t_new") - F.col("cum_new") * F.col("t_old")
        ).cast("bigint").alias("ks_scaled"),
    )
