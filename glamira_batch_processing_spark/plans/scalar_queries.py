"""Scalar-function contract queries (SURVEY §2.8 families F1, F4-F8)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.currency import (
    FX_SEED_ROWS,
    currency_code_expr,
    currency_status_expr,
    fx_rates,
    infer_currency_from_tld,
)
from ..functions.keys import key_input, surrogate_key
from .core_queries import cents as cents_expr
from .registry import fan_out, query, table


# ---------------------------------------------------------------------------
# F1: string normalization toolkit.
# ---------------------------------------------------------------------------
@query(
    "f1_string_normalize",
    oracle="""
    SELECT
      c_custkey,
      lower(trim(c_name)) AS name_norm,
      concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_key,
      replace(c_name, 'Customer', 'Cust') AS name_short,
      CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
      c_name LIKE 'Customer%' AS starts_customer,
      CAST(length(c_name) AS INTEGER) AS name_len,
      coalesce(NULLIF(trim(c_mktsegment), ''), 'UNKNOWN') AS segment
    FROM customer
    """,
)
def f1_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIM/LOWER/CONCAT_WS/REPLACE/STRPOS/STARTS_WITH/COALESCE/LENGTH
    (ref: stg_customer.sql:7-9, stg_order.sql:37-101, int_order_qa.sql:35
    — SURVEY §2.8 F1)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower(F.trim("c_name")).alias("name_norm"),
        F.concat_ws("|", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_key"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
        F.col("c_name").startswith("Customer").alias("starts_customer"),
        F.length("c_name").alias("name_len"),
        F.coalesce(F.nullif(F.trim("c_mktsegment"), F.lit("")), F.lit("UNKNOWN")).alias("segment"),
    )


# ---------------------------------------------------------------------------
# F4: currency mapping + TLD inference + fx conversion (J3).
# ---------------------------------------------------------------------------
_LABELS = [
    "USD $", "€", "£", "kr", "$", "zł", "Kč", "лв.", "din.", "R$", "", "د.ك.‏",
]
_TLDS = ["de", "co.uk", "se", "com", "dk", "fr"]


def _label_for(key):
    """Currency label ``_LABELS[key % 12]`` (Spark twin of the oracles'
    label CASE)."""
    expr = F.when(F.lit(False), F.lit(None))
    for i, lab in enumerate(_LABELS):
        expr = expr.when(key % 12 == i, F.lit(lab))
    return expr


def _tld_for(key):
    """Storefront TLD ``_TLDS[key % 6]`` (Spark twin of ``_TLD_CASE``)."""
    expr = F.when(F.lit(False), F.lit(None))
    for i, t in enumerate(_TLDS):
        expr = expr.when(key % 6 == i, F.lit(t))
    return expr


_LABEL_CASE = " ".join(
    f"WHEN o_orderkey % 12 = {i} THEN '{lab}'" for i, lab in enumerate(_LABELS)
)
_TLD_CASE = " ".join(
    f"WHEN o_custkey % 6 = {i} THEN '{t}'" for i, t in enumerate(_TLDS)
)
_FX_VALUES = ",\n      ".join(
    f"('{code}', {rate!r})" for _, _, code, rate in FX_SEED_ROWS
)

# The oracle re-implements the full mapping CASE (same semantics as
# mart_fact_order.sql:21-131) over the constructed labels actually in play.
_ORACLE_F4 = f"""
    WITH src AS (
      SELECT
        o_orderkey,
        CASE {_LABEL_CASE} END AS currency_raw,
        concat('https://www.glamira.', CASE {_TLD_CASE} END, '/checkout') AS current_url,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount
      FROM orders
    ),
    mapped AS (
      SELECT *,
        CASE
          WHEN currency_raw IS NULL OR trim(currency_raw) = '' THEN NULL
          WHEN lower(trim(currency_raw)) = 'usd $' THEN 'USD'
          WHEN lower(trim(currency_raw)) = 'zł' THEN 'PLN'
          WHEN lower(trim(currency_raw)) = 'kč' THEN 'CZK'
          WHEN lower(trim(currency_raw)) = 'лв.' THEN 'BGN'
          WHEN lower(trim(currency_raw)) = 'din.' THEN 'RSD'
          WHEN lower(trim(currency_raw)) = 'r$' THEN 'BRL'
          WHEN trim(currency_raw) = '€' THEN 'EUR'
          WHEN trim(currency_raw) = '£' THEN 'GBP'
          WHEN trim(currency_raw) = 'د.ك.‏' THEN 'KWD'
          ELSE NULL
        END AS mapped_code,
        CASE
          WHEN currency_raw IS NULL OR trim(currency_raw) = '' THEN 'UNKNOWN'
          WHEN lower(trim(currency_raw)) IN ('usd $','zł','kč','лв.','din.','r$') THEN 'CLEAN'
          WHEN trim(currency_raw) IN ('€','£','د.ك.‏') THEN 'CLEAN'
          WHEN trim(currency_raw) = '$' THEN 'AMBIGUOUS'
          WHEN lower(trim(currency_raw)) = 'kr' THEN 'AMBIGUOUS'
          ELSE 'UNKNOWN'
        END AS currency_status,
        regexp_extract(lower(trim(coalesce(regexp_extract(current_url, '://([^/]+)', 1), ''))), '\\.([a-z]{{2,}})$', 1) AS tld,
        lower(trim(coalesce(regexp_extract(current_url, '://([^/]+)', 1), ''))) AS host
      FROM src
    ),
    inferred AS (
      SELECT *,
        CASE
          WHEN mapped_code IS NOT NULL THEN NULL
          WHEN currency_status != 'AMBIGUOUS' THEN NULL
          WHEN host LIKE '%co.uk' THEN 'GBP'
          WHEN tld = 'uk' THEN 'GBP' WHEN tld = 'de' THEN 'EUR' WHEN tld = 'fr' THEN 'EUR'
          WHEN tld = 'se' THEN 'SEK' WHEN tld = 'dk' THEN 'DKK'
          ELSE NULL
        END AS inferred_code
      FROM mapped
    ),
    fx(currency_code, usd_to_ccy) AS (VALUES
      {_FX_VALUES}
    )
    SELECT
      i.o_orderkey,
      i.currency_raw,
      coalesce(i.mapped_code, i.inferred_code) AS currency_code,
      CASE
        WHEN i.mapped_code IS NOT NULL THEN i.currency_status
        WHEN i.currency_status = 'AMBIGUOUS' AND i.inferred_code IS NOT NULL THEN 'INFERRED'
        ELSE i.currency_status
      END AS currency_status,
      CASE
        WHEN coalesce(i.mapped_code, i.inferred_code) IS NULL THEN NULL
        WHEN fx.usd_to_ccy IS NULL THEN NULL
        ELSE i.amount / fx.usd_to_ccy
      END AS amount_usd
    FROM inferred i
    LEFT JOIN fx ON fx.currency_code = coalesce(i.mapped_code, i.inferred_code)
"""

@query("f4_currency_resolution", oracle=_ORACLE_F4)
def f4_currency_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw currency label -> ISO code -> USD conversion (ref:
    mart_fact_order.sql:21-131 mapping + TLD inference, :145-201 fx join
    J3/F7 — SURVEY §2.8 F4). Labels and URLs are constructed
    deterministically from order keys; the fx seed is broadcast."""
    o = table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        _label_for(F.col("o_orderkey")).alias("currency_raw"),
        F.concat(
            F.lit("https://www.glamira."), _tld_for(F.col("o_custkey")), F.lit("/checkout")
        ).alias("current_url"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("amount"),
    )
    mapped = src.select(
        "*",
        currency_code_expr(F.col("currency_raw")).alias("mapped_code"),
        currency_status_expr(F.col("currency_raw")).alias("currency_status_pre"),
    )
    inferred = mapped.withColumn(
        "inferred_code",
        F.when(F.col("mapped_code").isNotNull(), F.lit(None)).otherwise(
            infer_currency_from_tld(F.col("currency_status_pre"), F.col("current_url"))
        ),
    )
    fx = F.broadcast(
        fx_rates(spark).select("currency_code", "usd_to_ccy")
    )
    final_code = F.coalesce(F.col("mapped_code"), F.col("inferred_code"))
    resolved = inferred.withColumn("currency_code", final_code).withColumn(
        "currency_status",
        F.when(F.col("mapped_code").isNotNull(), F.col("currency_status_pre"))
        .when(
            (F.col("currency_status_pre") == "AMBIGUOUS")
            & F.col("inferred_code").isNotNull(),
            F.lit("INFERRED"),
        )
        .otherwise(F.col("currency_status_pre")),
    )
    return resolved.join(fx, "currency_code", "left").select(
        "o_orderkey",
        "currency_raw",
        "currency_code",
        "currency_status",
        F.when(F.col("currency_code").isNull(), F.lit(None))
        .when(F.col("usd_to_ccy").isNull(), F.lit(None))
        .otherwise(F.col("amount") / F.col("usd_to_ccy"))
        .alias("amount_usd"),
    )


# ---------------------------------------------------------------------------
# F5: surrogate keys — natural-key input parity + injectivity check.
# ---------------------------------------------------------------------------
@query(
    "f5_surrogate_key_inputs",
    oracle="""
    SELECT
      concat_ws('|',
        coalesce(CAST(l_orderkey AS VARCHAR), ''),
        coalesce(CAST(l_partkey AS VARCHAR), ''),
        coalesce(CAST(l_suppkey AS VARCHAR), ''),
        coalesce(CAST(l_linenumber AS VARCHAR), '')
      ) AS item_key_input,
      COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY 1
    """,
)
def f5_surrogate_key_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key natural-key construction (ref: stg_order.sql:88-102
    F5). FARM_FINGERPRINT != xxhash64, so per FIXTURES.md the oracle
    compares the pre-hash '|'-joined input; hash injectivity is checked
    separately by f5_surrogate_key_consistency."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.select(
            key_input(
                F.col("l_orderkey"), F.col("l_partkey"),
                F.col("l_suppkey"), F.col("l_linenumber"),
            ).alias("item_key_input")
        )
        .groupBy("item_key_input")
        .agg(F.count("*").alias("n_rows"))
    )


@query(
    "f5_surrogate_key_consistency",
    oracle="""
    SELECT
      CAST(COUNT(DISTINCT concat_ws('|',
        coalesce(CAST(l_orderkey AS VARCHAR), ''),
        coalesce(CAST(l_partkey AS VARCHAR), ''),
        coalesce(CAST(l_suppkey AS VARCHAR), ''),
        coalesce(CAST(l_linenumber AS VARCHAR), '')
      )) AS BIGINT) AS n_distinct_inputs,
      CAST(COUNT(DISTINCT concat_ws('|',
        coalesce(CAST(l_orderkey AS VARCHAR), ''),
        coalesce(CAST(l_partkey AS VARCHAR), ''),
        coalesce(CAST(l_suppkey AS VARCHAR), ''),
        coalesce(CAST(l_linenumber AS VARCHAR), '')
      )) AS BIGINT) AS n_distinct_keys
    FROM lineitem
    """,
)
def f5_surrogate_key_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-key injectivity: count(distinct xxhash64 keys) must equal
    count(distinct natural inputs) — a collision would break the
    equality the oracle asserts (its SQL counts the inputs twice, since
    DuckDB cannot reproduce xxhash64 values)."""
    l = table(spark, sf_dir, "lineitem")
    inp = key_input(
        F.col("l_orderkey"), F.col("l_partkey"), F.col("l_suppkey"), F.col("l_linenumber")
    )
    sk = surrogate_key(
        F.col("l_orderkey"), F.col("l_partkey"), F.col("l_suppkey"), F.col("l_linenumber")
    )
    return l.select(inp.alias("inp"), sk.alias("sk")).agg(
        F.countDistinct("inp").alias("n_distinct_inputs"),
        F.countDistinct("sk").alias("n_distinct_keys"),
    )


# ---------------------------------------------------------------------------
# F6: date dimension from a generated date range.
# ---------------------------------------------------------------------------
@query(
    "f6_date_dimension",
    oracle="""
    SELECT
      strftime(CAST(d AS DATE), '%Y-%m-%d') AS date_str,
      CAST(year(CAST(d AS DATE)) AS INTEGER) AS year,
      CAST(month(CAST(d AS DATE)) AS INTEGER) AS month,
      CAST(quarter(CAST(d AS DATE)) AS INTEGER) AS quarter
    FROM generate_series(DATE '2015-01-01', DATE '2050-12-31', INTERVAL 1 DAY) AS t(d)
    """,
)
def f6_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date dimension 2015-01-01..2050-12-31, 13149 rows (ref:
    mart_dim_date.sql:3-13 GENERATE_DATE_ARRAY + EXTRACT — F6).
    F.sequence builds the array in one task; explode distributes."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dates = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2015-01-01").cast("date"),
                F.lit("2050-12-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("date")
    )
    return dates.select(
        F.date_format("date", "yyyy-MM-dd").alias("date_str"),
        F.year("date").alias("year"),
        F.month("date").alias("month"),
        F.quarter("date").alias("quarter"),
    )


# ---------------------------------------------------------------------------
# F8: JSON value extraction with fallback chain.
# ---------------------------------------------------------------------------
@query(
    "f8_json_extract",
    oracle="""
    SELECT
      event_id,
      json_extract_string(props, '$.k') AS k_str,
      TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
      coalesce(
        json_extract_string(props, '$.missing'),
        json_extract_string(props, '$.also_missing'),
        json_extract_string(props, '$.k')
      ) AS k_fallback
    FROM events
    """,
)
def f8_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction + id fallback chain (ref: stg_product.sql:
    4-35 TO_JSON_STRING/JSON_VALUE with product_id->productId->id->_id
    coalesce — F8)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.try_cast("bigint").alias("k_num"),
        F.coalesce(
            F.get_json_object("props", "$.missing"),
            F.get_json_object("props", "$.also_missing"),
            k,
        ).alias("k_fallback"),
    )


@query(
    "f10_array_lambda_stats",
    oracle="""
    WITH carts AS (
      SELECT l_orderkey,
             list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(qtys) AS n_items,
           list_reduce(qtys, (x, y) -> x + y) AS total_qty,
           len(list_filter(qtys, q -> q >= 25)) AS n_bulk,
           list_reduce(list_transform(qtys, q -> q * q), (x, y) -> x + y)
             AS sum_sq_qty
    FROM carts
    """,
)
def f10_array_lambda_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over collected carts: transform /
    filter / aggregate lambdas on a sorted BIGINT array (sorting makes
    the fold order engine-identical; integer math keeps it exact). The
    nested-data scalar family BigQuery users lean on (ref: the
    cart_products array handling in stg_order.sql), expressed with
    Spark's lambda Column expressions — still whole-stage-codegen, no
    UDF."""
    l = table(spark, sf_dir, "lineitem")
    carts = l.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.col("l_quantity").cast("long"))).alias("qtys")
    )
    q = F.col("qtys")
    return carts.select(
        "l_orderkey",
        F.size(q).alias("n_items"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "total_qty"
        ),
        F.size(F.filter(q, lambda x: x >= 25)).alias("n_bulk"),
        F.aggregate(
            F.transform(q, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_sq_qty"),
    )


@query(
    "f12_variant_extract",
    oracle="""
    SELECT event_id,
           event_type AS etype,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           CAST(floor(value*100 + 0.5) AS BIGINT) AS value_cents,
           CAST(NULL AS BIGINT) AS missing_num
    FROM events
    """,
)
def f12_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type: event
    attributes are re-serialized to one JSON document, parsed ONCE
    into a variant (a typed binary encoding — the path extractions
    below do not re-parse text), then extracted with typed
    variant_get paths; an absent path goes through try_variant_get to
    a typed NULL. The oracle states the same result from the flat
    columns — mechanism differs, semantics must not.

    Scale shape: parse_json + variant_get are codegen'd Column
    expressions over the scan — zero shuffle, zero UDF. At 100 TB the
    win over per-path get_json_object (f8) is parse-once: n path
    reads cost one text parse instead of n."""
    e = table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("etype"),
            F.get_json_object("props", "$.k").try_cast("bigint").alias("k"),
            cents_expr(F.col("value")).alias("vc"),
        )
    )
    v = F.parse_json(doc)
    return e.select(
        "event_id",
        F.variant_get(v, "$.etype", "string").alias("etype"),
        F.variant_get(v, "$.k", "bigint").alias("k_num"),
        F.variant_get(v, "$.vc", "bigint").alias("value_cents"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing_num"),
    )


@query(
    "f13_collated_group",
    oracle="""
    SELECT lower(event_type) AS etype_ci, count(*) AS n
    FROM (
      SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
                  ELSE event_type END AS event_type
      FROM events)
    GROUP BY etype_ci
    ORDER BY etype_ci
    """,
)
def f13_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware aggregation (Spark 4 collations): a mixed-case
    event stream (every third row upper-cased to simulate dirty feed
    casing) grouped under the UTF8_LCASE collation, which merges case
    variants in the GROUPING ITSELF — no lower() normalization of the
    data column needed; the output key is lowered only for display
    parity with the oracle.

    Scale shape: the collated groupBy is one map-side-combinable
    exchange, same budget as any groupBy; collation comparison happens
    inside codegen."""
    e = table(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 3 == 0, F.upper(F.col("event_type"))
        ).otherwise(F.col("event_type")).alias("event_type")
    )
    return (
        e.groupBy(F.collate(F.col("event_type"), "UTF8_LCASE").alias("k"))
        .agg(F.count("*").alias("n"))
        .select(F.lower(F.col("k")).cast("string").alias("etype_ci"), "n")
        .orderBy("etype_ci")
    )


# ---------------------------------------------------------------------------
# F14: from_json nested re-typing (the stringify-on-drift repair).
# ---------------------------------------------------------------------------
_CART_SCHEMA = (
    "array<struct<product_id:string,amount:bigint,price:string,"
    "currency:string,option:array<struct<option_id:string,"
    "option_label:string,value_id:string,value_label:string>>>>"
)

# DuckDB from_json structure string for the same nested shape.
_CART_DUCK = (
    '[{"product_id":"VARCHAR","amount":"BIGINT","price":"VARCHAR",'
    '"currency":"VARCHAR","option":[{"option_id":"VARCHAR",'
    '"option_label":"VARCHAR","value_id":"VARCHAR",'
    '"value_label":"VARCHAR"}]}]'
)

# The per-item construction, restated identically on both engines so
# each side builds its OWN JSON text, parses it with its OWN nested
# re-typer, and must land on identical typed rows.
_F14_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS k FROM orders
),
items AS (
  SELECT k, j,
    to_json(struct_pack(
      product_id := CAST((k*7 + j*13) % 200 AS VARCHAR),
      amount := CAST(1 + (k + j) % 5 AS BIGINT),
      price := CASE WHEN (k + j) % 13 = 0 THEN 'N/A'
        ELSE concat(CAST(100 + (k*31 + j*17) % 900 AS VARCHAR), '.',
                    lpad(CAST((k + j) % 100 AS VARCHAR), 2, '0')) END,
      currency := CASE (k + j) % 3 WHEN 0 THEN 'USD'
                  WHEN 1 THEN 'EUR' ELSE 'GBP' END,
      option := CASE WHEN (k + j) % 3 = 0 THEN [
          struct_pack(
            option_id := 'opt' || CAST((k + j) % 9 AS VARCHAR),
            option_label := 'stone',
            value_id := CAST((k + j) % 4 AS VARCHAR),
            value_label := 'ruby'),
          struct_pack(
            option_id := 'opt' || CAST((k + j + 1) % 9 AS VARCHAR),
            option_label := 'metal',
            value_id := CAST((k + j + 1) % 4 AS VARCHAR),
            value_label := 'gold')]
        WHEN (k + j) % 3 = 1 THEN []
        ELSE NULL END
    )) AS cp
  FROM base, generate_series(0, 2) AS g(j)
  WHERE j <= k % 3
),
carts AS (
  -- k%37 in (0,1) are the malformed / NULL drift rows: Spark's
  -- PERMISSIVE from_json maps both to a NULL array; the oracle
  -- restates that mapping as a pre-parse NULL.
  SELECT k, CASE WHEN k % 37 IN (0, 1) THEN NULL
            ELSE '[' || string_agg(cp, ',' ORDER BY j) || ']' END AS js
  FROM items GROUP BY k
),
typed AS (
  SELECT k, from_json(js::JSON, '{_CART_DUCK}') AS cart FROM carts
),
lvl1 AS (
  SELECT k, generate_subscripts(cart, 1) - 1 AS cart_pos,
         unnest(cart) AS cp
  FROM typed WHERE cart IS NOT NULL
),
lvl1s AS (
  SELECT k, cart_pos, cp.product_id AS product_id, cp.amount AS amount,
         cp.price AS price_raw, cp.currency AS currency,
         cp.option AS opts
  FROM lvl1
  UNION ALL
  SELECT k, NULL, NULL, NULL, NULL, NULL, NULL
  FROM typed WHERE cart IS NULL
),
lvl2 AS (
  SELECT k, cart_pos, product_id, amount, price_raw, currency,
         generate_subscripts(opts, 1) - 1 AS opt_pos, unnest(opts) AS op
  FROM lvl1s WHERE opts IS NOT NULL AND len(opts) > 0
),
lvl2s AS (
  SELECT k, cart_pos, product_id, amount, price_raw, currency, opt_pos,
         op.option_id AS option_id, op.option_label AS option_label,
         op.value_id AS value_id, op.value_label AS value_label
  FROM lvl2
  UNION ALL
  SELECT k, cart_pos, product_id, amount, price_raw, currency,
         NULL, NULL, NULL, NULL, NULL
  FROM lvl1s WHERE opts IS NULL OR len(opts) = 0
)
SELECT k AS o_orderkey,
  CASE WHEN lower(list_extract(
         ['true','1','yes','FALSE','0','no','maybe'], k % 7 + 1))
       IN ('true','1','yes','y') THEN TRUE
       WHEN lower(list_extract(
         ['true','1','yes','FALSE','0','no','maybe'], k % 7 + 1))
       IN ('false','0','no','n') THEN FALSE
       ELSE NULL END AS is_paypal,
  cart_pos, product_id, amount, price_raw,
  TRY_CAST(price_raw AS DOUBLE) AS price_num,
  currency, opt_pos, option_id, option_label, value_id, value_label
FROM lvl2s
"""


@query("f14_json_retype", oracle=_F14_ORACLE)
def f14_json_retype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested JSON re-typing: a stringified ARRAY<STRUCT> column is
    rebuilt into its typed form with one from_json, then consumed by
    the standard double posexplode_outer (ref: the repair script
    ``ETL/INSERT INTO `solid-transport-479213-h5.sql``:37-60 rebuilds
    cart_products[].option[] from JSON strings via JSON_VALUE inside
    ARRAY(SELECT AS STRUCT ...) against summary_schema.json — the
    endgame of normalize_parquet_run.py:73-102's stringify-on-drift
    normalize; lines 62-75 of the same script re-type is_paypal
    STRING -> BOOLEAN and price STRING -> NUMERIC, mirrored here as
    the is_paypal CASE and the price try_cast).

    Each engine builds its OWN JSON text from the same arithmetic
    (Spark to_json here, DuckDB to_json in the oracle), parses it with
    its OWN nested re-typer (from_json on both), and must produce
    identical typed rows — so the comparison pins parse semantics, not
    a shared string. Drift rows (k % 37 in (0, 1)) arrive malformed or
    NULL; PERMISSIVE from_json maps both to a NULL array and the outer
    explode preserves the parent row, exactly like the reference's
    LEFT JOIN UNNEST downstream of its repair.

    Scale shape: to_json/from_json are codegen'd Column expressions
    fused into the scan — zero shuffle, zero UDF; the explode is a
    pipelined Generate. At 100 TB the one-pass from_json beats the
    reference's per-path JSON_VALUE (one text parse per row, not one
    per extracted field)."""
    # fan_out (round 14): the whole query is one scan-fused projection
    # whose per-row cost is a nested to_json+from_json round-trip —
    # measured 2.8 s on ONE task (the single-row-group scan) at sf0.1.
    # Spreading the 8-byte key first parallelizes the JSON work; the
    # exchange carries only o_orderkey.
    o = fan_out(
        table(spark, sf_dir, "orders").select("o_orderkey"), "o_orderkey"
    )
    k = F.col("o_orderkey")

    opt_t = (
        "array<struct<option_id:string,option_label:string,"
        "value_id:string,value_label:string>>"
    )

    def item(j: int):
        pid = ((k * 7 + j * 13) % 200).cast("string")
        amount = (1 + (k + j) % 5).cast("long")
        price = F.when((k + j) % 13 == 0, F.lit("N/A")).otherwise(
            F.concat(
                (100 + (k * 31 + j * 17) % 900).cast("string"),
                F.lit("."),
                F.lpad(((k + j) % 100).cast("string"), 2, "0"),
            )
        )
        currency = F.element_at(
            F.array(F.lit("USD"), F.lit("EUR"), F.lit("GBP")),
            ((k + j) % 3 + 1).cast("int"),
        )

        def opt(off: int, label: str, value: str):
            return F.struct(
                F.concat(
                    F.lit("opt"), ((k + j + off) % 9).cast("string")
                ).alias("option_id"),
                F.lit(label).alias("option_label"),
                ((k + j + off) % 4).cast("string").alias("value_id"),
                F.lit(value).alias("value_label"),
            )

        options = (
            F.when((k + j) % 3 == 0, F.array(opt(0, "stone", "ruby"), opt(1, "metal", "gold")))
            .when((k + j) % 3 == 1, F.array().cast(opt_t))
            .otherwise(F.lit(None).cast(opt_t))
        )
        return F.struct(
            pid.alias("product_id"),
            amount.alias("amount"),
            price.alias("price"),
            currency.alias("currency"),
            options.alias("option"),
        )

    cart = F.slice(
        F.array(item(0), item(1), item(2)), 1, (1 + k % 3).cast("int")
    )
    js = (
        F.when(k % 37 == 0, F.lit('{"cart": not-json'))
        .when(k % 37 == 1, F.lit(None).cast("string"))
        .otherwise(F.to_json(cart))
    )
    ip_raw = F.element_at(
        F.array(*[F.lit(s) for s in
                  ["true", "1", "yes", "FALSE", "0", "no", "maybe"]]),
        (k % 7 + 1).cast("int"),
    )
    is_paypal = (
        F.when(F.lower(ip_raw).isin("true", "1", "yes", "y"), F.lit(True))
        .when(F.lower(ip_raw).isin("false", "0", "no", "n"), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )

    typed = o.select(
        "o_orderkey",
        is_paypal.alias("is_paypal"),
        F.from_json(js, _CART_SCHEMA).alias("cart"),
    )
    lvl1 = typed.select(
        "o_orderkey",
        "is_paypal",
        F.posexplode_outer("cart").alias("cart_pos", "cp"),
    )
    return lvl1.select(
        "o_orderkey",
        "is_paypal",
        "cart_pos",
        F.col("cp.product_id").alias("product_id"),
        F.col("cp.amount").alias("amount"),
        F.col("cp.price").alias("price_raw"),
        F.col("cp.price").try_cast("double").alias("price_num"),
        F.col("cp.currency").alias("currency"),
        F.posexplode_outer("cp.option").alias("opt_pos", "op"),
    ).select(
        "o_orderkey", "is_paypal", "cart_pos", "product_id", "amount",
        "price_raw", "price_num", "currency", "opt_pos",
        F.col("op.option_id").alias("option_id"),
        F.col("op.option_label").alias("option_label"),
        F.col("op.value_id").alias("value_id"),
        F.col("op.value_label").alias("value_label"),
    )
