"""Flagship end-to-end contract queries: the Glamira order-flattening
spine expressed over the driver's TPC-H-ish tables.

``_tpch_carts`` is the one raw-cart builder: it maps lineitem onto
countly's nested cart_products[] (collect_list of item structs with
localized price strings, currency labels and option arrays), and
``glamira_pipeline_e2e`` feeds the same carts to the warehouse DAG.
Over them ``glamira_e2e_order_flatten`` runs the reference's stg_order
semantics — null-preserving double flatten, localized price parse,
composite item key, line totals — and ``glamira_e2e_revenue_rollup``
rolls the parsed prices up by nation and month. Exercises
J1+F3+F5+F7+A-family in one plan, with a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import parse_localized_number, parse_localized_number_sql
from ..functions.keys import key_input
from .registry import fan_out, query, table
from .scalar_queries import _label_for

# Localized price string variants built from the 2dp decimal rendering
# of l_extendedprice (same trick as f3, keyed by orderkey+linenumber).
_PRICE_SQL = """
          CASE
            WHEN (l_orderkey + l_linenumber) % 4 = 0 THEN replace(base, '.', ',')
            WHEN (l_orderkey + l_linenumber) % 4 = 1 THEN concat('1.', replace(base, '.', ','))
            WHEN (l_orderkey + l_linenumber) % 4 = 2 THEN concat('1,', base)
            ELSE base
          END
"""

# Options array per cart item, keyed off the part key: %3==0 -> two
# options, %3==1 -> empty array (row must survive the outer explode),
# %3==2 -> NULL array (ditto). Mirrors summary_schema.json's nested
# cart_products[].option[] exactly.
_OPT_TYPE_SQL = "STRUCT(option_id VARCHAR, option_label VARCHAR)[]"
_OPTS_SQL = f"""
          CASE
            WHEN l_partkey % 3 = 0 THEN [
              struct_pack(option_id := concat('opt', CAST(l_partkey % 7 AS VARCHAR)), option_label := 'stone'),
              struct_pack(option_id := concat('opt', CAST((l_partkey + 1) % 7 AS VARCHAR)), option_label := 'metal')
            ]
            WHEN l_partkey % 3 = 1 THEN CAST([] AS {_OPT_TYPE_SQL})
            ELSE CAST(NULL AS {_OPT_TYPE_SQL})
          END
"""


def _price_raw(ok, ln):
    """Spark twin of ``_PRICE_SQL``: the localized price-string variant
    of l_extendedprice's 2dp rendering, keyed by orderkey+linenumber."""
    base = F.col("l_extendedprice").cast("decimal(12,2)").cast("string")
    return (
        F.when((ok + ln) % 4 == 0, F.replace(base, F.lit("."), F.lit(",")))
        .when((ok + ln) % 4 == 1, F.concat(F.lit("1."), F.replace(base, F.lit("."), F.lit(","))))
        .when((ok + ln) % 4 == 2, F.concat(F.lit("1,"), base))
        .otherwise(base)
    )


def _tpch_carts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(l_orderkey, cart)``: each order's countly cart_products[], the
    sorted list of item structs (ln, product_id, amount, price,
    currency, option) built from its lineitem rows.

    ``glamira_e2e_order_flatten`` never reads ``currency``, and
    carrying it does not change the sort order: currency and option are
    both functions of (l_orderkey, l_partkey), so two items that tie on
    (ln, product_id, amount, price) are equal in every field."""
    # Hash-repartition the narrow raw columns by the groupBy key before
    # building the structs: the struct build runs in parallel instead of
    # on the single-task scan, and the collect_list groupBy reuses this
    # partitioning, so no exchange is added and the one that remains
    # carries the raw columns instead of built structs.
    li = fan_out(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_quantity",
            "l_extendedprice",
        ),
        "l_orderkey",
    )
    ok, ln, pk = F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_partkey")
    opt_type = "array<struct<option_id:string,option_label:string>>"
    opts = (
        F.when(
            pk % 3 == 0,
            F.array(
                F.struct(
                    F.concat(F.lit("opt"), (pk % 7).cast("string")).alias("option_id"),
                    F.lit("stone").alias("option_label"),
                ),
                F.struct(
                    F.concat(F.lit("opt"), ((pk + 1) % 7).cast("string")).alias("option_id"),
                    F.lit("metal").alias("option_label"),
                ),
            ),
        )
        .when(pk % 3 == 1, F.array().cast(opt_type))
        .otherwise(F.lit(None).cast(opt_type))
    )
    items = li.select(
        "l_orderkey",
        F.struct(
            ln.alias("ln"),
            pk.alias("product_id"),
            F.col("l_quantity").cast("long").alias("amount"),
            _price_raw(ok, ln).alias("price"),
            _label_for(ok + pk).alias("currency"),
            opts.alias("option"),
        ).alias("item"),
    )
    return items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("item")).alias("cart")
    )


@query(
    "glamira_e2e_order_flatten",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_partkey,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS base,
             CAST(l_quantity AS BIGINT) AS amount
      FROM lineitem
    ),
    carts AS (
      SELECT l_orderkey,
             list(struct_pack(
               ln := l_linenumber,
               product_id := l_partkey,
               amount := amount,
               price := {_PRICE_SQL},
               option := {_OPTS_SQL}
             ) ORDER BY l_linenumber, l_partkey, amount, {_PRICE_SQL}) AS cart
      FROM li
      GROUP BY l_orderkey
    ),
    base AS (
      SELECT o.o_orderkey, o.o_custkey,
             CASE WHEN o.o_orderkey % 10 = 0 THEN NULL ELSE c.cart END AS cart
      FROM orders o LEFT JOIN carts c ON o.o_orderkey = c.l_orderkey
    ),
    flat AS (
      SELECT o_orderkey, o_custkey,
             generate_subscripts(cart, 1) - 1 AS pos,
             unnest(cart) AS cp
      FROM base WHERE cart IS NOT NULL
      UNION ALL BY NAME
      SELECT o_orderkey, o_custkey, NULL AS pos, NULL AS cp
      FROM base WHERE cart IS NULL
    ),
    opts AS (
      SELECT o_orderkey, o_custkey, pos, cp,
             generate_subscripts(cp.option, 1) - 1 AS opt_pos,
             unnest(cp.option) AS opt
      FROM flat WHERE cp.option IS NOT NULL AND len(cp.option) > 0
      UNION ALL BY NAME
      SELECT o_orderkey, o_custkey, pos, cp, NULL AS opt_pos, NULL AS opt
      FROM flat WHERE cp.option IS NULL OR len(cp.option) = 0
    )
    SELECT o_orderkey, o_custkey, pos, opt_pos,
           cp.product_id AS product_id,
           cp.amount AS quantity,
           cp.price AS price_raw,
           CAST({parse_localized_number_sql("cp.price", 18, 4)} AS DOUBLE) AS price,
           CAST(cp.amount * {parse_localized_number_sql("cp.price", 18, 4)} AS DOUBLE) AS line_total,
           opt.option_id AS option_id,
           concat_ws('|',
             coalesce(CAST(o_orderkey AS VARCHAR), ''),
             coalesce(CAST(cp.product_id AS VARCHAR), ''),
             coalesce(opt.option_id, ''),
             coalesce(CAST(pos AS VARCHAR), '-1'),
             coalesce(CAST(opt_pos AS VARCHAR), '-1')
           ) AS item_key_input
    FROM opts
    """,
)
def glamira_e2e_order_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stg_order spine over TPC-H shapes (ref: stg_order.sql:29-135):
    nested cart_products[].option[] -> DOUBLE null-preserving LEFT JOIN
    UNNEST WITH OFFSET (posexplode_outer x2) -> localized price parse ->
    composite item key -> line totals. NULL carts (orderkey%10==0) and
    NULL/empty option arrays must all survive with NULL offsets."""
    carts = _tpch_carts(spark, sf_dir)
    o = table(spark, sf_dir, "orders")
    based = o.join(carts, o.o_orderkey == carts.l_orderkey, "left").select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None)).otherwise(F.col("cart")).alias("cart"),
    )
    flat = based.select(
        "o_orderkey", "o_custkey", F.posexplode_outer("cart").alias("pos", "cp")
    )
    opt_flat = flat.select(
        "*", F.posexplode_outer(F.col("cp.option")).alias("opt_pos", "opt")
    )
    parsed = parse_localized_number(F.col("cp.price"), 18, 4)
    return opt_flat.select(
        "o_orderkey",
        "o_custkey",
        "pos",
        "opt_pos",
        F.col("cp.product_id").alias("product_id"),
        F.col("cp.amount").alias("quantity"),
        F.col("cp.price").alias("price_raw"),
        parsed.cast("double").alias("price"),
        (F.col("cp.amount") * parsed).cast("double").alias("line_total"),
        F.col("opt.option_id").alias("option_id"),
        key_input(
            F.col("o_orderkey"),
            F.col("cp.product_id"),
            F.col("opt.option_id"),
            F.coalesce(F.col("pos"), F.lit(-1)),
            F.coalesce(F.col("opt_pos"), F.lit(-1)),
        ).alias("item_key_input"),
    )


@query(
    "glamira_e2e_revenue_rollup",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS base,
             CAST(l_quantity AS BIGINT) AS amount
      FROM lineitem
    ),
    parsed AS (
      -- line total in exact 1e-4-dollar units on BIGINT (the parse is
      -- exact at 4dp, so the scale-shift is lossless); the decimal
      -- multiply/sum is replaced by integer math, same bit-exact result
      SELECT l_orderkey,
             amount * CAST({parse_localized_number_sql(_PRICE_SQL.strip(), 18, 4)} * 10000 AS BIGINT)
               AS line_units
      FROM li
    ),
    joined AS (
      SELECT n.n_name, strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS order_month,
             p.line_units
      FROM parsed p
      JOIN orders o ON p.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT n_name AS nation_name, order_month,
           CAST(SUM(line_units) AS DOUBLE) / 10000 AS revenue,
           COUNT(*) AS n_items
    FROM joined
    GROUP BY 1, 2
    """,
)
def glamira_e2e_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship rollup (ref: the mart_fact_order -> revenue-by-geo-month
    path, SURVEY §7.3): parse messy prices, join dims, aggregate revenue
    by nation x month in exact decimal.

    Shape: lineitem pre-aggregates to per-order (units, item count)
    BEFORE the dim joins. Where all three joins broadcast this is
    timing-neutral; most of the time goes to the price synth and parse,
    a string workload both engines pay. At cluster scale, where orders
    cannot broadcast, the pre-agg is the win: the orderkey exchange
    carries one combined row per order instead of every line item (~4x
    fewer rows), and the agg's hash partitioning is reused by the join
    exchange on the same key.
    """
    # fan_out by the pre-agg key, as in _tpch_carts: the price synth and
    # the 12-branch parse run in parallel, and the groupBy reuses the
    # partitioning, so no exchange is added at any scale.
    li = fan_out(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        ),
        "l_orderkey",
    )
    price_raw = _price_raw(F.col("l_orderkey"), F.col("l_linenumber"))
    # Stage the synthesized price through its own projection before
    # parsing: parse_localized_number references its input ~12 times,
    # and an inline expression argument is DUPLICATED at each use in
    # the expression tree (conditional branches defeat codegen CSE).
    # CollapseProject keeps the boundary because the alias is non-cheap
    # and multi-referenced (SPARK-36718), so the synth chain evaluates
    # once per row instead of once per reference.
    staged = li.select("l_orderkey", "l_quantity", price_raw.alias("price_raw"))
    # exact 1e-4-dollar units on longs (the 4dp parse is exact, so the
    # scale shift is lossless); integer multiply/sum replaces per-row
    # decimal math with the same bit-exact result
    per_order = (
        staged.select(
            "l_orderkey",
            (
                F.col("l_quantity").cast("long")
                * (parse_localized_number(F.col("price_raw"), 18, 4) * 10000).cast("long")
            ).alias("line_units"),
        )
        .groupBy("l_orderkey")
        .agg(
            # Long sums, not decimal: line_units <= ~4e12/order and the
            # worst-case per-group total stays under 2^62, so 64-bit
            # accumulation is exact (and the final double conversion is
            # exact below 2^53 per group) — identical bits to the
            # oracle's BIGINT-sum-into-HUGEINT path, without the
            # non-codegen decimal aggregate state (~15% off the whole
            # query at both measured scales).
            F.sum("line_units").alias("order_units"),
            F.count("*").alias("order_items"),
        )
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        )
        .agg(
            (F.sum("order_units").cast("double") / 10000).alias("revenue"),
            F.sum("order_items").alias("n_items"),
        )
    )
