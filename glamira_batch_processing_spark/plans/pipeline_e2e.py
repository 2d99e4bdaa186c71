"""Whole-warehouse end-to-end gate query.

Runs the ACTUAL Glamira DAG (``build_glamira_pipeline`` — the same
model functions the pipeline tests exercise: raw -> stg_location /
stg_order / stg_customer / stg_product -> customer_email_scd ->
mart_dim_* -> mart_fact_order) over raw inputs constructed
deterministically from the driver's TPC-H-ish tables, and emits a USD
revenue rollup by resolved currency. The DuckDB oracle reproduces the
identical computation (same cart construction, localized price parse,
currency map, TLD inference, fx seed), so the whole
raw->staging->marts spine is value-checked in the driver gate — not
just model-by-model in pytest.

ref: the reference's full dbt DAG (Modelling/dbt_bigquery_glamira) —
this is its `dbt build && query the mart` moment as one contract query.

Exactness notes (why the output matches bit-for-bit):
- line totals are summed in exact decimal ((18,0) x (18,4) fits both
  engines' 38-digit decimals) and cast to double once, per group;
- the group's USD total divides that double by the fx rate as a
  double-by-double division — identical in both engines — instead of
  comparing per-row decimal divisions whose precision/scale rules
  differ between Spark and DuckDB (those per-row semantics are covered
  with tolerance in tests/test_glamira_pipeline.py);
- per-row USD NULL-gating is still pinned exactly via n_usd_null.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import parse_localized_number_sql
from ..functions.currency import fx_rates
from .e2e_queries import _PRICE_SQL, _tpch_carts
from .glamira import build_glamira_pipeline
from .registry import query, table
from .scalar_queries import _FX_VALUES, _LABELS, _TLD_CASE, _tld_for

# Per-line currency label keyed on (l_orderkey + l_partkey) % 12 —
# covers CLEAN (mapped), AMBIGUOUS ('$', 'kr'), UNKNOWN ('') labels.
_LINE_LABEL_CASE = " ".join(
    f"WHEN (l_orderkey + l_partkey) % 12 = {i} THEN '{lab}'"
    for i, lab in enumerate(_LABELS)
)

_ORACLE = f"""
    WITH ord AS (
      SELECT o_orderkey, o_custkey,
             concat('https://www.glamira.', CASE {_TLD_CASE} END, '/checkout')
               AS current_url,
             (o_orderkey % 10 = 0) AS null_cart
      FROM orders
    ),
    li AS (
      SELECT l_orderkey, l_linenumber, l_partkey,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS base,
             CAST(l_quantity AS BIGINT) AS amount
      FROM lineitem
    ),
    lines AS (
      SELECT l_orderkey, l_partkey, amount,
             {_PRICE_SQL} AS price_raw,
             CASE {_LINE_LABEL_CASE} END AS cur,
             CASE WHEN l_partkey % 3 = 0 THEN 2 ELSE 1 END AS w
      FROM li
    ),
    prod AS (
      -- stg_product keeps rows whose extracted id string survives the
      -- fake-null filter; ids are 'null' for partkey % 97 = 0.
      SELECT p_partkey AS pid FROM part WHERE p_partkey % 97 != 0
    ),
    real_lines AS (
      SELECT o.current_url, l.amount, l.w, l.cur,
             CAST({parse_localized_number_sql("l.price_raw", 38, 9)}
                  AS DECIMAL(18,4)) AS price,
             CASE WHEN l.l_partkey IN (SELECT pid FROM prod)
                  THEN l.w ELSE 0 END AS w_prod
      FROM ord o JOIN lines l ON l.l_orderkey = o.o_orderkey
      WHERE NOT o.null_cart
    ),
    null_lines AS (
      -- NULL carts (orderkey % 10 = 0, or no line items at all) survive
      -- the outer explode as one all-NULL line.
      SELECT o.current_url, CAST(NULL AS BIGINT) AS amount, 1 AS w,
             CAST(NULL AS VARCHAR) AS cur,
             CAST(NULL AS DECIMAL(18,4)) AS price, 0 AS w_prod
      FROM ord o
      WHERE o.null_cart
         OR o.o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    ),
    all_lines AS (
      SELECT * FROM real_lines UNION ALL SELECT * FROM null_lines
    ),
    mapped AS (
      SELECT *,
        CASE
          WHEN cur IS NULL OR trim(cur) = '' THEN NULL
          WHEN lower(trim(cur)) = 'usd $' THEN 'USD'
          WHEN lower(trim(cur)) = 'zł' THEN 'PLN'
          WHEN lower(trim(cur)) = 'kč' THEN 'CZK'
          WHEN lower(trim(cur)) = 'лв.' THEN 'BGN'
          WHEN lower(trim(cur)) = 'din.' THEN 'RSD'
          WHEN lower(trim(cur)) = 'r$' THEN 'BRL'
          WHEN trim(cur) = '€' THEN 'EUR'
          WHEN trim(cur) = '£' THEN 'GBP'
          WHEN trim(cur) = 'د.ك.‏' THEN 'KWD'
          ELSE NULL
        END AS mapped_code,
        CASE
          WHEN cur IS NULL OR trim(cur) = '' THEN 'UNKNOWN'
          WHEN lower(trim(cur)) IN ('usd $','zł','kč','лв.','din.','r$') THEN 'CLEAN'
          WHEN trim(cur) IN ('€','£','د.ك.‏') THEN 'CLEAN'
          WHEN trim(cur) = '$' THEN 'AMBIGUOUS'
          WHEN lower(trim(cur)) = 'kr' THEN 'AMBIGUOUS'
          ELSE 'UNKNOWN'
        END AS status_pre,
        regexp_extract(lower(trim(coalesce(regexp_extract(current_url, '://([^/]+)', 1), ''))), '\\.([a-z]{{2,}})$', 1) AS tld,
        lower(trim(coalesce(regexp_extract(current_url, '://([^/]+)', 1), ''))) AS host
      FROM all_lines
    ),
    inferred AS (
      SELECT *,
        CASE
          WHEN mapped_code IS NOT NULL THEN NULL
          WHEN status_pre != 'AMBIGUOUS' THEN NULL
          WHEN host LIKE '%co.uk' THEN 'GBP'
          WHEN tld = 'uk' THEN 'GBP' WHEN tld = 'de' THEN 'EUR' WHEN tld = 'fr' THEN 'EUR'
          WHEN tld = 'se' THEN 'SEK' WHEN tld = 'dk' THEN 'DKK'
          ELSE NULL
        END AS inferred_code
      FROM mapped
    ),
    resolved AS (
      SELECT *,
        coalesce(mapped_code, inferred_code) AS code,
        CASE
          WHEN mapped_code IS NOT NULL THEN status_pre
          WHEN status_pre = 'AMBIGUOUS' AND inferred_code IS NOT NULL THEN 'INFERRED'
          ELSE status_pre
        END AS status
      FROM inferred
    ),
    agg AS (
      SELECT status AS currency_status, code AS currency_code,
             SUM(w) AS n_items,
             SUM(amount * w) AS sum_qty,
             SUM(CAST(amount * w AS DECIMAL(18,0)) * price) AS ltd,
             SUM(w * CASE WHEN amount IS NULL OR price IS NULL THEN 1 ELSE 0 END)
               AS n_line_null,
             SUM(w_prod) AS n_with_product_key
      FROM resolved
      GROUP BY 1, 2
    ),
    fx(currency_code, usd_to_ccy) AS (VALUES
      {_FX_VALUES}
    )
    SELECT a.currency_status, a.currency_code,
           CAST(a.n_items AS BIGINT) AS n_items,
           CAST(a.sum_qty AS BIGINT) AS sum_qty,
           CAST(a.ltd AS DOUBLE) AS line_total_sum,
           CASE WHEN a.currency_code IS NULL OR fx.usd_to_ccy IS NULL THEN NULL
                ELSE CAST(a.ltd AS DOUBLE) / fx.usd_to_ccy END AS usd_total,
           CAST(CASE WHEN a.currency_code IS NULL OR fx.usd_to_ccy IS NULL
                THEN a.n_items ELSE a.n_line_null END AS BIGINT) AS n_usd_null,
           CAST(a.n_with_product_key AS BIGINT) AS n_with_product_key
    FROM agg a LEFT JOIN fx ON fx.currency_code = a.currency_code
"""


def _ip_for(custkey):
    """Injective custkey -> IPv4 string (unique per customer)."""
    return F.concat(
        F.lit("10."), ((custkey / 65536).cast("long") % 256).cast("string"),
        F.lit("."), ((custkey / 256).cast("long") % 256).cast("string"),
        F.lit("."), (custkey % 256).cast("string"),
    )


def _raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countly_summary-shaped raw events from orders x lineitem: nested
    cart_products[].option[] with localized prices and currency labels,
    plus the event metadata stg_order and stg_customer consume."""
    carts = _tpch_carts(spark, sf_dir)
    o = table(spark, sf_dir, "orders")
    ck = F.col("o_custkey")
    return o.join(carts, o.o_orderkey == carts.l_orderkey, "left").select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        (
            F.col("o_orderdate").cast("timestamp").cast("long")
            + F.col("o_orderkey") % 86400
        ).alias("time_stamp"),
        F.lit("2024-01-01 00:00:00").alias("local_time"),
        F.lit("checkout_success").alias("collection"),
        _ip_for(ck).alias("ip"),
        F.lit("Mozilla/5.0").alias("user_agent"),
        F.lit("1920x1080").alias("resolution"),
        # user-id injections exercise stg_customer's status classifier
        F.when(ck % 53 == 0, F.lit(None))
        .when(ck % 53 == 1, F.lit(""))
        .when(ck % 53 == 2, F.lit("null"))
        .otherwise(ck.cast("string"))
        .alias("user_id_db"),
        F.concat(F.lit("dev-"), ck.cast("string")).alias("device_id"),
        F.lit("1.0").alias("api_version"),
        (ck % 50).cast("string").alias("store_id"),
        F.lit("true").alias("show_recommendation"),
        F.concat(
            F.lit("https://www.glamira."), _tld_for(ck), F.lit("/checkout")
        ).alias("current_url"),
        F.lit("https://google.com").alias("referrer_url"),
        F.when(ck % 41 == 0, F.lit(None))
        .when(ck % 41 == 1, F.lit(""))
        .when(ck % 41 == 2, F.lit(" Shared@Example.COM "))
        .otherwise(
            F.concat(F.lit("user"), (ck % 700).cast("string"), F.lit("@example.com"))
        )
        .alias("email_address"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("cart"))
        .alias("cart_products"),
    )


def _raw_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """product-source rows from part: the id lives under one of four
    JSON field names per row (stg_product's fallback chain), with
    fake-null ids and unparsable weights injected."""
    p = table(spark, sf_dir, "part")
    pid = F.when(F.col("p_partkey") % 97 == 0, F.lit("null")).otherwise(
        F.col("p_partkey").cast("string")
    )
    sel = F.col("p_partkey") % 4
    field = lambda i: F.when(sel == i, pid).otherwise(F.lit(None))  # noqa: E731
    weight = F.when(F.col("p_partkey") % 5 == 0, F.lit("n/a")).otherwise(
        (F.col("p_retailprice") / 100).cast("decimal(18,6)").cast("string")
    )
    return p.select(
        F.struct(
            field(0).alias("product_id"),
            field(1).alias("productId"),
            field(2).alias("id"),
            field(3).alias("_id"),
            F.col("p_name").alias("name"),
            F.concat(F.lit("SKU-"), F.col("p_partkey").cast("string")).alias("sku"),
            F.col("p_type").alias("category_name"),
            (F.col("p_partkey") % 2).cast("string").alias("gender"),
            F.col("p_size").cast("string").alias("product_type"),
            F.lit("glamira").alias("store_code"),
            F.lit("default").alias("attribute_set"),
            F.col("p_brand").alias("category"),
            F.col("p_brand").alias("material_design"),
            weight.alias("gold_weight"),
            F.lit("0.5").alias("none_metal_weight"),
            F.lit("1.5").alias("fixed_silver_weight"),
        ).alias("product")
    )


def _raw_ip_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ip_location rows for a third of the customers (the rest exercise
    the left-join miss path in stg_order)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    n = table(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return j.select(
        _ip_for(F.col("c_custkey")).alias("ip"),
        F.upper(F.substring("n_name", 1, 2)).alias("country_code"),
        F.col("n_name").alias("country_name"),
        F.concat(F.lit("region-"), F.col("n_regionkey").cast("string")).alias("region"),
        F.concat(F.lit("city-"), (F.col("c_custkey") % 100).cast("string")).alias("city"),
        F.lit("ExampleNet").alias("isp"),
    )


@query("glamira_pipeline_e2e", oracle=_ORACLE)
def glamira_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USD revenue rollup by resolved currency out of mart_fact_order,
    with the ENTIRE warehouse DAG (stg_location, stg_order,
    stg_customer, stg_product, customer_email_scd, mart_dim_customer,
    mart_dim_product, mart_fact_order) executing lazily underneath —
    the production model functions, not a re-implementation."""
    p = build_glamira_pipeline(
        spark,
        raw_events=_raw_events(spark, sf_dir),
        raw_product=_raw_product(spark, sf_dir),
        raw_ip_locations=_raw_ip_locations(spark, sf_dir),
        workdir=None,
    )
    fact = p.ref("mart_fact_order")
    agg = fact.groupBy("currency_status", "currency_code").agg(
        F.count("*").alias("n_items"),
        F.sum("product_quantity").alias("sum_qty"),
        F.sum(
            F.col("product_quantity").cast("decimal(18,0)")
            * F.col("product_price").cast("decimal(18,4)")
        ).alias("ltd"),
        F.sum(
            F.when(F.col("line_total_amount_usd").isNull(), 1).otherwise(0)
        ).alias("n_usd_null"),
        F.sum(
            F.when(F.col("product_key").isNotNull(), 1).otherwise(0)
        ).alias("n_with_product_key"),
    )
    fx = F.broadcast(
        fx_rates(spark).select("currency_code", "usd_to_ccy")
    )
    out = agg.join(fx, "currency_code", "left")
    ltd_dbl = F.col("ltd").cast("double")
    return out.select(
        "currency_status",
        "currency_code",
        "n_items",
        "sum_qty",
        ltd_dbl.alias("line_total_sum"),
        F.when(
            F.col("currency_code").isNull() | F.col("usd_to_ccy").isNull(),
            F.lit(None),
        )
        .otherwise(ltd_dbl / F.col("usd_to_ccy"))
        .alias("usd_total"),
        "n_usd_null",
        "n_with_product_key",
    )
