"""Remaining small operator families: A7, P5, J12, F7 (SURVEY §2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import safe_divide
from ..sources.writers import sql_zorder_key
from .registry import query, table


@query(
    "a7_group_max_count",
    oracle="""
    SELECT user_id, event_type,
           max(value) AS max_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id, event_type
    """,
)
def a7_group_max_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-and-count with max flag (ref: step1_collect_product_urls.py
    :124-155 pid_url_stats driver loop — A7, rebuilt as one groupBy).
    max() passes stored doubles through unchanged — no arithmetic, so no
    cross-engine float concerns."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.max("value").alias("max_value"), F.count("*").alias("n_events")
    )


@query(
    "p5_drop_columns",
    oracle="""
    SELECT * EXCLUDE (o_orderstatus, o_orderpriority, o_orderdate),
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date
    FROM orders
    """,
)
def p5_drop_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * EXCEPT(...) column-drop projection (ref:
    mart_fact_order.sql:210,219 — P5)."""
    o = table(spark, sf_dir, "orders")
    return o.withColumn(
        "order_date", F.date_format("o_orderdate", "yyyy-MM-dd")
    ).drop("o_orderstatus", "o_orderpriority", "o_orderdate")


@query(
    "j12_multikey_join",
    oracle="""
    WITH first_per_pair AS (
      SELECT user_id, event_type, min(event_id) AS first_event_id
      FROM events GROUP BY user_id, event_type
    )
    SELECT e.event_id, e.user_id, e.event_type,
           f.first_event_id,
           e.event_id = f.first_event_id AS is_first_of_kind
    FROM events e
    LEFT JOIN first_per_pair f
      ON e.user_id = f.user_id AND e.event_type = f.event_type
    """,
)
def j12_multikey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column-key equi join (ref: Incremental_load_template.sql:50-57
    user_id AND email_address — J12)."""
    e = table(spark, sf_dir, "events")
    first = e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id")
    )
    return e.join(first, ["user_id", "event_type"], "left").select(
        "event_id",
        "user_id",
        "event_type",
        "first_event_id",
        (F.col("event_id") == F.col("first_event_id")).alias("is_first_of_kind"),
    )


@query(
    "j5_product_enrichment",
    oracle="""
    SELECT
      p.p_brand AS brand,
      s.s_name AS supplier_name,
      CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      COUNT(*) AS n_lines
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY p.p_brand, s.s_name
    """,
)
def j5_product_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product/supplier dim enrichment with natural->surrogate swap shape
    (ref: mart_fact_order.sql:218-224 product join — J5). Both dims are
    broadcast; aggregation in exact decimal."""
    l = table(spark, sf_dir, "lineitem")
    p = F.broadcast(table(spark, sf_dir, "part"))
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    return (
        l.join(p, l.l_partkey == p.p_partkey, "left")
        .join(s, l.l_suppkey == s.s_suppkey, "left")
        .groupBy(F.col("p_brand").alias("brand"), F.col("s_name").alias("supplier_name"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "j13_semi_anti_join",
    oracle="""
    SELECT c.c_custkey, 'with_orders' AS segment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT c.c_custkey, 'no_urgent_orders' AS segment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    """,
)
def j13_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit left-semi / left-anti joins (the reference formulates
    orphan checks as LEFT JOIN + NULL count — SURVEY §2.3 notes the
    anti-join equivalence; here it is first-class). One scan each side,
    no row duplication from the many-side."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cond = c.c_custkey == o.o_custkey
    semi = c.join(o, cond, "left_semi").select(
        "c_custkey", F.lit("with_orders").alias("segment")
    )
    anti = c.join(o, cond, "left_anti").select(
        "c_custkey", F.lit("no_urgent_orders").alias("segment")
    )
    return semi.unionByName(anti)


@query(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val
    FROM (
      SELECT l_orderkey, l_linenumber,
             l_quantity AS quantity, l_discount AS discount, l_tax AS tax
      FROM lineitem
    )
    UNPIVOT (val FOR measure IN (quantity, discount, tax))
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot/melt of the measure columns (values pass
    through unchanged, so cross-engine exact)."""
    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("quantity"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "discount", "tax"],
        "measure",
        "val",
    )


@query(
    "stats_percentiles",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5) AS p50_value,
           quantile_disc(value, 0.9) AS p90_value,
           min(value) AS min_value,
           max(value) AS max_value,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles per group. percentile_disc selects an
    actual element (no interpolation), so Spark and DuckDB agree
    bit-for-bit — unlike percentile_cont/approx, whose interpolation or
    sketches are engine-specific."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50_value"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count("*").alias("n"),
    )


@query(
    "dedup_edit_distance",
    oracle="""
    WITH c AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' x' AS text
      FROM documents WHERE doc_id % 7 = 0
    ),
    blocked AS (
      SELECT doc_id, text, md5(substr(text, 1, 32)) AS block_key FROM c
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_distance
    FROM blocked a JOIN blocked b
      ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 5
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, composed block -> verify: a
    prefix-fingerprint blocking key (md5 of the first 32 chars; every
    synthetic doc is >= 48 chars) makes candidate generation an
    EQUI-join, and the quadratic levenshtein DP runs only within a
    block — never as a cross join, so the whole table participates
    with no doc_id bound. The trade-off (an edit inside the first 32
    chars moves a doc to a different block, like any blocking scheme)
    is computed identically by the DuckDB oracle. Classic DP gives
    identical integers in every engine."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    c = d.unionByName(near).withColumn(
        "block_key", F.md5(F.substring("text", 1, 32))
    )
    a = c.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"), "block_key"
    )
    b = c.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"),
        F.col("block_key").alias("block_key_b"),
    )
    return (
        a.join(
            b,
            (F.col("block_key") == F.col("block_key_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .withColumn("edit_distance", F.levenshtein("ta", "tb"))
        .filter(F.col("edit_distance") <= 5)
        .select("doc_a", "doc_b", "edit_distance")
    )


@query(
    "rollup_revenue_by_region",
    oracle="""
    SELECT
      coalesce(r.r_name, 'ALL') AS region_name,
      coalesce(n.n_name, 'ALL') AS nation_name,
      CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
      COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total). Not in
    the reference (SURVEY §2.4: no grouping sets) — free via Catalyst;
    NULL grouping slots are labeled 'ALL' for oracle stability."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    j = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
            F.count("*").alias("n_customers"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "total_acctbal",
            "n_customers",
        )
    )


@query(
    "pivot_priority_by_status",
    oracle="""
    SELECT o_orderpriority,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
      CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
      CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide counts). Spark's pivot() with an explicit
    value list stays a single hash aggregate; the oracle is the
    equivalent conditional-agg formulation."""
    o = table(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@query(
    "f7_math_ops",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS line_total,
      CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_rounded,
      abs(-l_quantity) AS qty_abs,
      CASE WHEN (l_linenumber % 3) = 0 THEN NULL
           ELSE l_quantity / (l_linenumber % 3) END AS safe_ratio
    FROM lineitem
    """,
)
def f7_math_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family (ref: stg_order.sql:131 multiply, mart_fact_order.sql
    :190-201 divide, audit null rates SAFE_DIVIDE, Incremental template
    ROUND/ABS — F7). ROUND happens on exact decimal, never double (the
    engines disagree on double rounding via shortest-string repr)."""
    l = table(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        (qty_dec * price_dec).cast("double").alias("line_total"),
        F.round(price_dec, 1).cast("double").alias("price_rounded"),
        F.abs(-F.col("l_quantity")).alias("qty_abs"),
        safe_divide(F.col("l_quantity"), F.col("l_linenumber") % 3).alias("safe_ratio"),
    )


@query(
    "zorder_key_orders",
    oracle=(
        "SELECT o_orderkey, "
        + sql_zorder_key("orders", ["o_custkey", "o_orderkey"], bits=16)
        + " AS zkey FROM orders"
    ),
)
def zorder_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (o_custkey, o_orderkey) —
    the multi-dimensional data-skipping sort key behind
    ``VersionedTable.compact(cluster_by=...)``. The DuckDB oracle reproduces the
    identical min/max scaling, quantization, and bit interleave, so the
    clustering layout is engine-portable bit-for-bit; the actual
    row-group skipping it buys is measured against real parquet
    statistics in tests/test_zorder.py."""
    from ..sources.writers import zorder_key

    o = table(spark, sf_dir, "orders")
    _, z = zorder_key(o, ["o_custkey", "o_orderkey"], bits=16)
    return o.select("o_orderkey", z.alias("zkey"))


@query(
    "range_lookup_ip_geo",
    oracle="""
    WITH ranges AS (
      SELECT s_suppkey AS range_key, s_nationkey AS geo_key,
             (s_suppkey - 1) * 128 AS range_start,
             (s_suppkey - 1) * 128 + 127 AS range_end
      FROM supplier
    ),
    points AS (
      SELECT c_custkey,
             (c_custkey * 7919) % (SELECT COUNT(*) * 128 FROM supplier) AS ip
      FROM customer
    )
    SELECT p.c_custkey, p.ip, r.range_key, r.geo_key
    FROM points p
    JOIN ranges r ON p.ip BETWEEN r.range_start AND r.range_end
    """,
)
def range_lookup_ip_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP->geo range lookup (ref: connection_to_mongodb.py:87-121
    IP2Location BIN scan) as a bucket-exploded EQUI-join: synthetic
    128-wide 'IP ranges' from supplier, synthetic point 'IPs' from
    customer, matched via operators/rangejoin.py — no nested-loop range
    join anywhere in the plan. The DuckDB oracle is the naive BETWEEN
    join, proving the bucketed rewrite is semantics-preserving."""
    from ..operators.rangejoin import range_lookup_join

    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    span = s.agg((F.count("*") * 128).alias("__total"))
    points = c.crossJoin(F.broadcast(span)).select(
        "c_custkey", (F.col("c_custkey") * 7919 % F.col("__total")).alias("ip")
    )
    ranges = s.select(
        F.col("s_suppkey").alias("range_key"),
        F.col("s_nationkey").alias("geo_key"),
        ((F.col("s_suppkey") - 1) * 128).alias("range_start"),
        ((F.col("s_suppkey") - 1) * 128 + 127).alias("range_end"),
    )
    j = range_lookup_join(points, ranges, "ip", "range_start", "range_end", bucket_width=256)
    return j.select("c_custkey", "ip", "range_key", "geo_key")


@query(
    "stats_correlation",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    sums AS (
      -- HUGEINT -> DOUBLE double-rounds in DuckDB (upper*2^64 + lower
      -- evaluated in double arithmetic), so past 2^63 the direct cast
      -- is off by an ulp from the correctly-rounded value Spark's
      -- decimal->double produces. Routing through VARCHAR uses the
      -- correctly-rounded string->double parse instead — bit-identical
      -- to Spark at every scale.
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x*x) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y*y) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(x*y) AS VARCHAR) AS DOUBLE) AS sxy
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS corr_price_discount
    FROM sums
    """,
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of price vs discount from EXACT integer
    sums: the five moments accumulate as integer cents products in a
    decimal(38,0) accumulator (Spark) / HUGEINT (DuckDB) — both exact —
    then one identical double expression tree combines them, so the
    result is engine-bit-exact where the engines' native corr()
    (Welford-style streaming accumulators, summation-order dependent)
    is not. One map-side-combinable aggregate pass at any scale;
    nothing shuffles but six partial sums per partition.

    Cross-scale exactness: sums past 2^63 expose DuckDB's
    double-rounding HUGEINT->DOUBLE cast (found by running the oracle
    gate at sf0.1); the oracle converts via VARCHAR (correctly-rounded
    parse) to match Spark's correctly-rounded decimal->double."""
    from .core_queries import _dec38, cents

    l = table(spark, sf_dir, "lineitem")
    x = cents(F.col("l_extendedprice"))
    y = cents(F.col("l_discount"))
    sums = l.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(_dec38(x)).cast("double").alias("sx"),
        F.sum(_dec38(y)).cast("double").alias("sy"),
        F.sum(_dec38(x * x)).cast("double").alias("sxx"),
        F.sum(_dec38(y * y)).cast("double").alias("syy"),
        F.sum(_dec38(x * y)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return sums.select(
        n.cast("long").alias("n_rows"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_price_discount"),
    )


@query(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(CAST(FLOOR(value * 100.0) AS BIGINT)) AS min_cents,
           MAX(CAST(FLOOR(value * 100.0) AS BIGINT)) AS max_cents
    FROM events
    GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (``operators/skew.py``) under a
    WORST-CASE skew profile: the events table has only a handful of
    event_type values, so a naive groupBy pins each hot key on one
    reducer. ``salted_agg`` splits every group across 16 deterministic
    salt buckets (phase 1: partial count/sum/min/max per (key, salt)),
    then merges the bounded per-salt partials by key (phase 2) — two
    small shuffles instead of one unbounded reducer. The oracle is the
    PLAIN group-by: salting must be answer-invariant, which holds for
    any algebraic aggregate.

    Money math stays engine-exact: double values go through an explicit
    floor(value*100) before the BIGINT cast (Spark truncates
    double->long where DuckDB rounds, so the integral floor is taken
    first; both engines then sum exact integers).
    """
    from ..operators.skew import salted_agg

    cents = F.floor(F.col("value") * 100.0).cast("bigint")
    e = table(spark, sf_dir, "events").select(
        "event_type", cents.alias("cents")
    )
    return salted_agg(
        e,
        ["event_type"],
        [
            F.count("*").alias("pn"),
            F.sum("cents").alias("ps"),
            F.min("cents").alias("pmin"),
            F.max("cents").alias("pmax"),
        ],
        [
            F.sum("pn").alias("n_events"),
            F.sum("ps").cast("bigint").alias("sum_cents"),
            F.min("pmin").alias("min_cents"),
            F.max("pmax").alias("max_cents"),
        ],
    )
