"""Core relational contract queries (SURVEY.md §2.2-§2.7 families).

Each query is the Spark-first formulation of one reference operator
family, expressed over the driver's TPC-H-ish tables, with a DuckDB
oracle. Reference citations are per-query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import (
    FAKE_NULL_VOCAB,
    clean_string,
    parse_localized_number,
    parse_localized_number_sql,
)
from .registry import date_ge, date_gt, date_lt, fan_out, query, table


# ---------------------------------------------------------------------------
# Flagship: pricing summary (A4-style global conditional agg + group agg).
#
# Exact money arithmetic via SCALED INTEGERS (the native representation
# columnar engines use for decimals anyway): a 2dp money double becomes
# integer cents with floor(x*100 + 0.5) — pure codegen'd double math,
# valid for the non-negative money domain — and all products/sums happen
# on longs, accumulated in decimal(38,0) (compact-long fast path; no
# per-row BigDecimal). Measured ~2x faster than decimal(18,2)
# arithmetic in Spark with identical bit-exact results. The
# pure-decimal discipline (cast at source precision, never after double
# math) is demonstrated by the warehouse models (plans/glamira.py) and
# the e2e pipeline query.
# ---------------------------------------------------------------------------


def cents(col: F.Column, scale: int = 100) -> F.Column:
    """Non-negative 2dp money double -> exact integer cents (long)."""
    return F.floor(col * scale + F.lit(0.5)).cast("long")


def _dec38(col: F.Column) -> F.Column:
    return col.cast("decimal(38,0)")


# Exact integer sums on BIGINT aggregate state (round-7). Spark's
# decimal(38,0) SUM accumulator is interpreted (no whole-stage codegen
# object reuse) and measurably ~2x slower than long sums on the money
# aggregates; but a single long sum of cent-scaled products overflows
# at warehouse scale (charge units reach ~2^37/row: 6e11 rows * 2^37
# >> 2^63). The standard fix is TWO codegen'd long sums — the
# arithmetic-shifted high half and the masked low half — recombined
# exactly AFTER aggregation (per group, not per row):
#
#   sum(x) == sum(x >> 20) * 2^20 + sum(x & (2^20-1))     (exact, any x,
#   including negatives: arithmetic shift floors, the masked low half
#   is always non-negative, two's complement makes hi*2^20+lo == x).
#
# Overflow headroom: |x| < 2^43 per row -> |hi| < 2^23, lo < 2^20, so
# both halves stay inside int64 past 2^39 (~5e11) rows per group —
# beyond the 100 TB point. The reconstruction lands in decimal(38,0),
# so downstream casts are bit-identical with the previous decimal-sum
# formulation and with the DuckDB oracle's HUGEINT sum.
_SPLIT_SHIFT = 20
_SPLIT_BASE = 1 << _SPLIT_SHIFT


def split_sum(col: F.Column, name: str) -> tuple[F.Column, F.Column]:
    """The two BIGINT aggregate expressions for an exact sum of ``col``."""
    return (
        F.sum(F.shiftright(col, _SPLIT_SHIFT)).alias(f"__{name}_hi"),
        F.sum(col.bitwiseAND(F.lit(_SPLIT_BASE - 1))).alias(f"__{name}_lo"),
    )


def split_total(name: str) -> F.Column:
    """Exact decimal(38,0) total recombined from :func:`split_sum`."""
    return (
        F.col(f"__{name}_hi").cast("decimal(38,0)") * _SPLIT_BASE
        + F.col(f"__{name}_lo")
    )


def _q1_aggs(qty: F.Column, price_c: F.Column, disc_c: F.Column, tax_c: F.Column) -> list[F.Column]:
    """Q1's per-group partial sums over integer quantities and cents."""
    return [
        F.sum(qty).alias("sq"),  # qty <= 50/row: plain long is exact
        *split_sum(price_c, "sbp"),
        *split_sum(price_c * (100 - disc_c), "sdp"),
        *split_sum(price_c * (100 - disc_c) * (100 + tax_c), "sc"),
        F.count("*").alias("n"),
    ]


def _q1_columns() -> list[F.Column]:
    """Q1's output columns from the :func:`_q1_aggs` partial sums."""
    return [
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.col("sq").cast("double").alias("sum_qty"),
        (split_total("sbp").cast("double") / 100).alias("sum_base_price"),
        (split_total("sdp").cast("double") / 10000).alias("sum_disc_price"),
        (split_total("sc").cast("double") / 1000000).alias("sum_charge"),
        (F.col("sq").cast("double") / F.col("n")).alias("avg_qty"),
        (split_total("sbp").cast("double") / 100 / F.col("n")).alias("avg_price"),
        F.col("n").alias("count_order"),
    ]


_Q1_ORACLE = """
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS price_c,
             CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS disc_c,
             CAST(floor(l_tax*100 + 0.5) AS BIGINT) AS tax_c
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02'
    )
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(qty) AS DOUBLE) AS sum_qty,
      CAST(SUM(price_c) AS DOUBLE)/100 AS sum_base_price,
      CAST(SUM(price_c*(100-disc_c)) AS DOUBLE)/10000 AS sum_disc_price,
      CAST(SUM(price_c*(100-disc_c)*(100+tax_c)) AS DOUBLE)/1000000 AS sum_charge,
      CAST(SUM(qty) AS DOUBLE)/COUNT(*) AS avg_qty,
      CAST(SUM(price_c) AS DOUBLE)/100/COUNT(*) AS avg_price,
      COUNT(*) AS count_order
    FROM c GROUP BY l_returnflag, l_linestatus
    """


@query(
    "q1_pricing_summary",
    oracle=_Q1_ORACLE,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-agg spine of the engine (ref: stg_order.sql:131 line totals +
    audit_null_rates conditional-agg style, SURVEY §2.4 A1/A4).

    Money math on scaled longs (see module comment): per-row work is
    integer multiplies inside whole-stage codegen, and the aggregate
    state is split-BIGINT (:func:`split_sum` — exact past 5e11 rows
    per group, ~2x faster than the previous interpreted decimal(38,0)
    accumulator); the per-group decimal reconstruction and single
    final cast to double are bit-identical in Spark and DuckDB."""
    l = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    tax_c = cents(F.col("l_tax"))
    return (
        # to_date(ts) <= D  <=>  ts < D+1 day: the direct timestamp
        # comparison reaches the parquet scan as a pushed filter and
        # skips the per-row date conversion (round-8 q1 profiling).
        l.filter(F.col("l_shipdate") < F.lit("2001-09-03").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*_q1_aggs(qty, price_c, disc_c, tax_c))
        .select(*_q1_columns())
    )


# ---------------------------------------------------------------------------
# J2-J5: multi-way dim-enrichment joins with broadcast small dims.
# ---------------------------------------------------------------------------
@query(
    "j2_revenue_by_nation",
    oracle="""
    SELECT
      r.r_name AS region_name,
      n.n_name AS nation_name,
      CAST(SUM(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l.l_discount*100 + 0.5) AS BIGINT)))
           AS DOUBLE) / 10000 AS revenue,
      COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def j2_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-enrichment join chain (ref: stg_order.sql:80-85 location join,
    mart_fact_order.sql:203-224 fx/customer/product joins — SURVEY §2.3
    J2-J5). nation/region are broadcast; the orders⋈customer side is left
    to AQE, which picks broadcast automatically when the dim fits."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    rev_units = cents(F.col("l_extendedprice")) * (
        100 - cents(F.col("l_discount"))
    )  # exact 1e-4 dollars on longs; see module comment
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            *split_sum(rev_units, "rev"),
            F.count("*").alias("n_items"),
        )
        .select(
            "region_name",
            "nation_name",
            (split_total("rev").cast("double") / 10000).alias("revenue"),
            "n_items",
        )
    )


# ---------------------------------------------------------------------------
# W1: dedupe/top-1 per key via row_number (latest order per customer).
# ---------------------------------------------------------------------------
@query(
    "w1_latest_order_per_customer",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey AS latest_orderkey,
      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS latest_orderdate,
      o_totalprice AS latest_totalprice
    FROM (
      SELECT *,
        row_number() OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
        ) AS rn
      FROM orders
    )
    WHERE rn = 1
    """,
)
def w1_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key window dedupe (ref: mart_dim_customer.sql:24-40,
    SURVEY §2.5 W1). Tie-broken by key desc for determinism."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
            F.col("o_totalprice").alias("latest_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# W4 + J11: rank-based dedupe-then-merge (incremental load pattern).
# ---------------------------------------------------------------------------
@query(
    "w4_rank_dedupe_merge",
    oracle="""
    SELECT
      l_orderkey,
      l_partkey,
      l_suppkey,
      l_linenumber,
      l_quantity,
      l_extendedprice
    FROM (
      SELECT *,
        rank() OVER (
          PARTITION BY l_orderkey, l_partkey
          ORDER BY l_suppkey, l_quantity DESC, CAST(l_shipdate AS DATE) DESC,
                   l_extendedprice DESC, l_linenumber
        ) AS rnk
      FROM lineitem
    )
    WHERE rnk = 1
    """,
)
def w4_rank_dedupe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key tie-broken dedupe before merge (ref:
    Incremental_load_template.sql:18-30, SURVEY §2.5 W4). The reference
    RANKs by (ip, qty DESC, ts DESC, price DESC); we add the line number
    as the final tiebreak so RANK=1 is unique and deterministic."""
    l = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey", "l_partkey").orderBy(
        F.col("l_suppkey"),
        F.desc("l_quantity"),
        F.desc(F.to_date("l_shipdate")),
        F.desc("l_extendedprice"),
        F.col("l_linenumber"),
    )
    return (
        l.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
        )
    )


# ---------------------------------------------------------------------------
# P1/P2: typed projection with lenient casts and renames.
# ---------------------------------------------------------------------------
@query(
    "p1_typed_projection",
    oracle="""
    SELECT
      CAST(o_orderkey AS VARCHAR) AS order_id,
      o_custkey AS customer_id,
      TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS priority_num,
      TRY_CAST(o_orderstatus AS INTEGER) AS status_num,
      upper(o_orderstatus) AS order_status,
      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date
    FROM orders
    """,
)
def p1_typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk CAST/SAFE_CAST projection with renames (ref: stg_order.sql:5-24
    P1, stg_order.sql:16 SAFE_CAST P2). ``status_num`` is always NULL —
    that IS the SAFE_CAST semantics under test."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("priority_num"),
        F.col("o_orderstatus").try_cast("int").alias("status_num"),
        F.upper("o_orderstatus").alias("order_status"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# P4: fake-null guard / cleaning.
# ---------------------------------------------------------------------------
_FAKE_SQL_LIST = ", ".join(f"'{v}'" for v in FAKE_NULL_VOCAB)

@query(
    "p4_fake_null_cleaning",
    oracle=f"""
    WITH messy AS (
      SELECT
        c_custkey,
        CASE
          WHEN c_custkey % 97 = 0 THEN 'null'
          WHEN c_custkey % 89 = 0 THEN '  '
          WHEN c_custkey % 83 = 0 THEN 'N/A'
          WHEN c_custkey % 79 = 0 THEN NULL
          ELSE c_mktsegment
        END AS segment_raw
      FROM customer
    )
    SELECT
      CASE
        WHEN segment_raw IS NULL OR trim(segment_raw) = ''
             OR lower(trim(segment_raw)) IN ({_FAKE_SQL_LIST})
        THEN NULL ELSE trim(segment_raw)
      END AS segment,
      COUNT(*) AS n_customers
    FROM messy
    GROUP BY 1
    """,
)
def p4_fake_null_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-null vocabulary cleaning (ref: stg_customer.sql:5-13,
    stg_product.sql:58-60 — SURVEY §2.2 P4). Messiness is injected
    deterministically from c_custkey so the oracle reproduces it."""
    c = table(spark, sf_dir, "customer")
    messy = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 97 == 0, F.lit("null"))
        .when(F.col("c_custkey") % 89 == 0, F.lit("  "))
        .when(F.col("c_custkey") % 83 == 0, F.lit("N/A"))
        .when(F.col("c_custkey") % 79 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment_raw"),
    )
    return (
        messy.select(clean_string(F.col("segment_raw")).alias("segment"))
        .groupBy("segment")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# P6: latest-snapshot filter via scalar-max subquery.
# ---------------------------------------------------------------------------
@query(
    "p6_latest_snapshot_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date, o_totalprice
    FROM orders
    WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)
    """,
)
def p6_latest_snapshot_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot scalar-subquery filter (ref: mart_fact_order.sql:
    135-143 fx_latest CTE, SURVEY §2.2 P6): implemented as a broadcast
    semi-join against the 1-row max, no driver round-trip."""
    o = table(spark, sf_dir, "orders")
    latest = o.agg(F.max("o_orderdate").alias("o_orderdate"))
    return o.join(F.broadcast(latest), "o_orderdate").select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "o_totalprice",
    )


# ---------------------------------------------------------------------------
# J1: posexplode_outer parity (LEFT JOIN UNNEST ... WITH OFFSET).
# ---------------------------------------------------------------------------
@query(
    "j1_posexplode_outer",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 13 = 0 THEN NULL
             ELSE str_split(o_orderpriority, '-') END AS toks
      FROM orders
    )
    SELECT o_orderkey, pos, token FROM (
      SELECT o_orderkey,
             generate_subscripts(toks, 1) - 1 AS pos,
             unnest(toks) AS token
      FROM src WHERE toks IS NOT NULL
    )
    UNION ALL
    SELECT o_orderkey, NULL AS pos, NULL AS token FROM src WHERE toks IS NULL
    """,
)
def j1_posexplode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving lateral explode with element index (ref:
    stg_order.sql:29-78 double LEFT JOIN UNNEST WITH OFFSET — SURVEY §2.3
    J1). NULL arrays keep their parent row with NULL pos/token, exactly
    like BigQuery's LEFT JOIN UNNEST."""
    o = table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None)).otherwise(
            F.split("o_orderpriority", "-")
        ).alias("toks"),
    )
    return src.select(
        "o_orderkey", F.posexplode_outer("toks").alias("pos", "token")
    )


# ---------------------------------------------------------------------------
# F3: localized price parsing (the hairiest scalar in the reference).
# ---------------------------------------------------------------------------
_PRICE_RAW_SQL = """
      CASE
        WHEN l_orderkey % 31 = 0 THEN 'N/A'
        WHEN l_orderkey % 5 = 0 THEN replace(base, '.', '٫')
        WHEN l_orderkey % 5 = 1 THEN replace(base, '.', ',')
        WHEN l_orderkey % 5 = 2 THEN concat('1.', replace(base, '.', ','))
        WHEN l_orderkey % 5 = 3 THEN concat('1,', base)
        ELSE concat(' ', base, ' ')
      END
"""

@query(
    "f3_parse_localized_prices",
    oracle=f"""
    WITH src AS (
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS base
      FROM lineitem
    ),
    raws AS (
      SELECT l_orderkey, l_linenumber, {_PRICE_RAW_SQL} AS price_raw
      FROM src
    )
    SELECT l_orderkey, l_linenumber, price_raw,
           CAST({parse_localized_number_sql("price_raw", 18, 4)} AS DOUBLE) AS price_parsed
    FROM raws
    """,
)
def f3_parse_localized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Localized decimal parsing (ref: stg_order.sql:37-61 — SURVEY §2.8
    F3). Deterministically re-formats l_extendedprice into the messy
    locale variants the reference handles (Arabic separator, European
    1.234,56, US 1,234.56, decimal comma, embedded spaces, garbage) and
    parses them back — the parse must invert the formatting."""
    l = table(spark, sf_dir, "lineitem")
    base = F.col("l_extendedprice").cast("decimal(12,2)").cast("string")
    # fan_out (round 14): the localized re-format + parse chain is a
    # pure scan-fused projection (several regexes per row) that ran on
    # the single-row-group scan's one task; spread the 3 narrow input
    # columns first.
    src = fan_out(
        l.select("l_orderkey", "l_linenumber", base.alias("base")),
        "l_orderkey",
        "l_linenumber",
    )
    price_raw = (
        F.when(F.col("l_orderkey") % 31 == 0, F.lit("N/A"))
        .when(F.col("l_orderkey") % 5 == 0, F.regexp_replace("base", "\\.", "٫"))
        .when(F.col("l_orderkey") % 5 == 1, F.regexp_replace("base", "\\.", ","))
        .when(
            F.col("l_orderkey") % 5 == 2,
            F.concat(F.lit("1."), F.regexp_replace("base", "\\.", ",")),
        )
        .when(F.col("l_orderkey") % 5 == 3, F.concat(F.lit("1,"), F.col("base")))
        .otherwise(F.concat(F.lit(" "), F.col("base"), F.lit(" ")))
    )
    raws = src.select("l_orderkey", "l_linenumber", price_raw.alias("price_raw"))
    return raws.select(
        "l_orderkey",
        "l_linenumber",
        "price_raw",
        parse_localized_number(F.col("price_raw"), 18, 4)
        .cast("double")
        .alias("price_parsed"),
    )


# ---------------------------------------------------------------------------
# U1: union all.
# ---------------------------------------------------------------------------
@query(
    "u1_union_all",
    oracle="""
    SELECT o_orderkey, 'high_value' AS bucket FROM orders WHERE o_totalprice > 300000
    UNION ALL
    SELECT o_orderkey, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (ref: models/example/my_first_dbt_model.sql:11-20 —
    SURVEY §2.7 U1)."""
    o = table(spark, sf_dir, "orders")
    high = o.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", F.lit("high_value").alias("bucket")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("bucket")
    )
    return high.unionByName(urgent)


@query(
    "q3_shipping_priority",
    oracle="""
    WITH c AS (
      SELECT l.l_orderkey,
             CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT) AS price_c,
             CAST(floor(l.l_discount*100 + 0.5) AS BIGINT) AS disc_c,
             o.o_orderdate
      FROM customer cu
      JOIN orders o ON cu.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE cu.c_mktsegment = 'BUILDING'
        AND CAST(o.o_orderdate AS DATE) < DATE '1998-06-15'
        AND CAST(l.l_shipdate AS DATE) > DATE '1998-06-15'
    )
    SELECT l_orderkey,
           CAST(SUM(price_c*(100-disc_c)) AS DOUBLE)/10000 AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM c
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, order_date, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter driving a star join,
    exact-decimal revenue agg, top-10. The filtered BUILDING customers
    broadcast into orders; the date predicates push to both parquet
    scans; the limit plans as TakeOrderedAndProject (per-partition
    heap, 10-row driver merge) — the canonical 'selective star join'
    every warehouse runs, here with the module's integer-cents money
    math so the ordering key is engine-exact."""
    cu = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        date_lt("o_orderdate", "1998-06-15")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        date_gt("l_shipdate", "1998-06-15")
    )
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(*split_sum(price_c * (100 - disc_c), "rev"))
        .withColumn("rev_units", split_total("rev"))
        .select(
            "l_orderkey",
            (F.col("rev_units").cast("double") / 10000).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.desc("revenue"), "order_date", "l_orderkey")
        .limit(10)
    )


@query(
    "u2_intersect_except",
    oracle="""
    WITH m1 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') = '1997-01'
    ),
    m2 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') = '1997-02'
    )
    SELECT 'both_months' AS cohort, o_custkey FROM (
      SELECT o_custkey FROM m1 INTERSECT SELECT o_custkey FROM m2)
    UNION ALL
    SELECT 'jan_only' AS cohort, o_custkey FROM (
      SELECT o_custkey FROM m1 EXCEPT SELECT o_custkey FROM m2)
    """,
)
def u2_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op family completion (SURVEY §2.7): INTERSECT and EXCEPT of
    two monthly customer key sets (retained vs churned-after-January).
    Catalyst rewrites both to semi/anti joins over the deduped sets —
    the same plan shape as j13, arrived at declaratively."""
    o = table(spark, sf_dir, "orders")
    m1 = o.filter(F.date_format("o_orderdate", "yyyy-MM") == "1997-01").select(
        "o_custkey"
    ).distinct()
    m2 = o.filter(F.date_format("o_orderdate", "yyyy-MM") == "1997-02").select(
        "o_custkey"
    ).distinct()
    both = m1.intersect(m2).select(F.lit("both_months").alias("cohort"), "o_custkey")
    jan_only = m1.exceptAll(m2).select(F.lit("jan_only").alias("cohort"), "o_custkey")
    return both.unionByName(jan_only)


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l.l_discount*100 + 0.5) AS BIGINT)))
                AS DOUBLE) / 10000 AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the six-table local-supplier-volume star join —
    the classic join-ordering stress test. Region/nation/supplier/
    customer are dimensions and broadcast (supplier and customer grow
    sublinearly vs the fact; at sizes past the broadcast budget AQE
    falls back per side); the date predicate pushes into the orders
    scan; the ONLY fact-sized work is lineitem streaming through
    broadcast hash joins into one map-side-combinable aggregate of
    exact integer cents. The s_nationkey = c_nationkey "local
    supplier" condition rides the supplier join as a post-join filter
    on two broadcast columns — no extra shuffle.

    Catalyst is free to reorder the dimension joins (declarative star
    join, no hints besides the broadcasts); the oracle states the same
    relational algebra in SQL."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").filter(
        (date_ge("o_orderdate", "1997-01-01"))
        & (date_lt("o_orderdate", "1998-01-01"))
    )
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    return (
        l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(*split_sum(price_c * (100 - disc_c), "rev"))
        .withColumn("rev_units", split_total("rev"))
        .select(
            "nation",
            (F.col("rev_units").cast("double") / 10000).alias("revenue"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l.l_discount*100 + 0.5) AS BIGINT)))
                AS DOUBLE) / 10000 AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: which customers returned the most revenue in a
    quarter — returnflag filter pushed into the lineitem scan, the date
    window pushed into orders, customer/nation broadcast, exact
    integer-cents aggregation, TakeOrderedAndProject top-20. The
    standard 'problem customers' operational report."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    o = table(spark, sf_dir, "orders").filter(
        (date_ge("o_orderdate", "1997-01-01"))
        & (date_lt("o_orderdate", "1997-04-01"))
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    return (
        l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(*split_sum(price_c * (100 - disc_c), "rev"))
        .withColumn("rev_units", split_total("rev"))
        .select(
            "c_custkey",
            "c_name",
            "nation",
            (F.col("rev_units").cast("double") / 10000).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q18_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 200
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice,
           CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the canonical
    aggregate-semi-join-back stress — find orders whose total quantity
    exceeds a threshold, then re-join those orders to customer and
    line-item detail.

    Scale shape: the HAVING subquery is ONE map-side-combinable
    groupBy over lineitem; its surviving keys flow into a LEFT SEMI
    join against the fact (AQE can turn it into a broadcast semi when
    the survivor set is small — the selective-threshold case), so the
    big table is filtered before the customer/order joins. Quantities
    are integral doubles summing exactly (< 2^53), so the BIGINT cast
    is engine-exact. The final top-100 is TakeOrderedAndProject.
    """
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 200)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
           CAST(SUM(
             CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l.l_discount*100 + 0.5) AS BIGINT))
             - CAST(l.l_quantity AS BIGINT)
               * CAST(floor(p.p_retailprice*100 + 0.5) AS BIGINT) * 60
           ) AS DOUBLE) / 10000 AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year), adapted
    to this schema: no partsupp table exists, so supply cost is modeled
    as 60% of the part's retail price — the join topology and
    aggregation grain (supplier-nation x order-year over a
    name-filtered part subset) are Q9's.

    Scale shape: the ONLY big-big join is lineitem x orders on the
    order key (sort-merge at scale); part (pre-filtered by the LIKE
    predicate, pushed to its scan), supplier and nation broadcast, so
    the fact shuffles exactly once before the small groupBy. All money
    math is exact integer units (cents x percent), summed as
    decimal(38,0) — cross-engine bit-exact.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    cost_c = cents(F.col("p_retailprice"))
    profit_units = price_c * (100 - disc_c) - F.col(
        "l_quantity"
    ).cast("long") * cost_c * 60
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.to_date("o_orderdate")).cast("bigint").alias("o_year"),
        )
        .agg(*split_sum(profit_units, "profit"))
        .withColumn("profit_units", split_total("profit"))
        .select(
            "nation",
            "o_year",
            (F.col("profit_units").cast("double") / 10000).alias("profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )
