"""TPC-H decision-support shapes beyond the reference's dbt models.

The reference's warehouse layer is BigQuery SQL over a star schema
(`Modelling/dbt_bigquery_glamira/models/marts/*.sql`); these queries
exercise the same relational machinery — semi/anti joins with
correlated predicates, scalar subqueries, disjunctive pushdown,
conditional shares — on the driver's TPC-H-ish tables, adapted to the
trimmed schema (no partsupp/commitdate/receiptdate/phone columns).

House rules (see registry docstring): money math in exact integer
cents so Spark and the DuckDB oracle agree bit-for-bit; doubles only
appear after all aggregation, via identical operation order on both
sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core_queries import cents, split_sum, split_total
from .registry import date_between, date_ge, date_lt, query, table

# Exact revenue units: cents(price) * (100 - cents(discount)); divide
# by 10000 only at the very end, after the decimal(38,0) sum.
_REV_SQL = (
    "CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l.l_discount*100 + 0.5) AS BIGINT))"
)


def _rev_units() -> F.Column:
    return cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))


@query(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(l.l_shipdate AS DATE)
              > CAST(o.o_orderdate AS DATE) + 60)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking), adapted: the schema
    has no commit/receipt dates, so "late" means a line item shipped
    more than 60 days after the order date.

    Scale shape: the EXISTS decorrelates to a LEFT SEMI join on the
    order key with the lateness inequality riding the join condition —
    lineitem is projected to two columns before the shuffle, the
    quarter filter pushes into the orders scan, and the final
    aggregate is five groups. No duplicate-inflating inner join, no
    distinct."""
    o = table(spark, sf_dir, "orders").filter(
        (date_ge("o_orderdate", "1997-01-01"))
        & (date_lt("o_orderdate", "1997-04-01"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (F.to_date(l.l_shipdate) > F.date_add(F.to_date(o.o_orderdate), 60)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)
                    * CAST(floor(l.l_discount*100 + 0.5) AS BIGINT))
               AS DOUBLE) / 10000 AS revenue
    FROM lineitem l
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
      AND CAST(floor(l.l_discount*100 + 0.5) AS BIGINT) BETWEEN 5 AND 7
      AND l.l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting-revenue change): the pure scan-aggregate —
    revenue given up if discounts in a band had been eliminated.
    Q6's revenue is price * discount (not price * (1-disc)).

    Scale shape: zero joins, zero wide shuffles — the year and
    quantity predicates push into the parquet scan (row-group pruning
    off min/max stats), the discount band is an exact integer-cents
    test, and the sum is map-side partials into a 1-row final. This is
    the query whose whole cost is scan throughput; at 100 TB it is
    I/O-bound and embarrassingly parallel."""
    l = table(spark, sf_dir, "lineitem")
    units = cents(F.col("l_extendedprice")) * cents(F.col("l_discount"))
    return (
        l.filter(
            (date_ge("l_shipdate", "1997-01-01"))
            & (date_lt("l_shipdate", "1998-01-01"))
            & cents(F.col("l_discount")).between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(*split_sum(units, "u"))
        .select((split_total("u").cast("double") / 10000).alias("revenue"))
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(strftime(l.l_shipdate, '%Y') AS BIGINT) AS l_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000 AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
        OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
      AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
                                         AND DATE '1997-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume between two nations in
    both directions, by ship year.

    Scale shape: the nation-pair disjunction cannot be pushed below
    the joins wholesale, but its implied union
    (n1 IN (9,10) AND n2 IN (9,10)) CAN — stated here as explicit
    nation filters (what constraint propagation would derive), so
    supplier and customer are PRE-JOINED to the two-nation dim and
    genuinely shrink to 2/25 of their size BEFORE the broadcast hint
    applies. The only fact-sized shuffle is lineitem-orders; the
    shrunken supplier (~800 rows/SF) broadcasts at any realistic SF,
    the shrunken customer (~12k rows/SF) to roughly SF100 — past the
    broadcast budget, drop the hint and AQE takes the second fact
    shuffle."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name").filter(
        F.col("n_name").isin("NATION_9", "NATION_10")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        date_between("l_shipdate", "1996-01-01", "1997-12-31")
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey", "cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10")
    ) | (
        (F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.to_date("l_shipdate")).cast("bigint").alias("l_year"),
        )
        .agg(*split_sum(_rev_units(), "u"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            (split_total("u").cast("double") / 10000).alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_9'
                         THEN {_REV_SQL} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS mkt_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n2.n_regionkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
      AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
                                          AND DATE '1997-12-31'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_9 suppliers' share of
    PROMO-part revenue sold into ASIA customers, by order year.

    Scale shape: the eight-table star collapses to ONE fact-sized
    shuffle (lineitem-orders); part is pre-filtered by type and
    broadcast; customer is PRE-JOINED to the region-filtered nation
    dim (1/5 of customers) before its broadcast hint; supplier (the
    smallest fact-scaling dim, 10k rows/SF) broadcasts with its
    nation name attached — defensible to roughly SF500, past which
    drop the hints and AQE shuffles those joins. The share is
    a conditional sum over the SAME exact-integer revenue expression —
    one pass, no self-join — and the final double division happens on
    two exact sums with identical operand order in both engines."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    o = table(spark, sf_dir, "orders").filter(
        date_between("o_orderdate", "1996-01-01", "1997-12-31")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    asia_nations = n2.join(
        F.broadcast(r), F.col("n2_region") == r.r_regionkey
    ).select("n2_key")
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey")
    )
    units = _rev_units()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.year(F.to_date("o_orderdate")).cast("bigint").alias("o_year"))
        .agg(
            *split_sum(
                F.when(F.col("supp_nation") == "NATION_9", units).otherwise(0), "nat"
            ),
            *split_sum(units, "tot"),
        )
        .select(
            "o_year",
            (split_total("nat").cast("double") / split_total("tot").cast("double")).alias(
                "mkt_share"
            ),
        )
        .orderBy("o_year")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed
    0, 1, 2, ... non-urgent orders — the canonical LEFT OUTER JOIN
    with a filter INSIDE the join condition (a customer with only
    urgent orders must still appear, with count 0), adapted from
    Q13's comment-pattern filter to the priority column this schema
    has.

    Scale shape: count(o_orderkey) over the left join counts only
    matched rows — no COALESCE fix-up needed; the first groupBy is on
    the customer key (the join key — AQE can fuse the shuffles), the
    second is on the tiny count domain."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    return (
        c.join(
            o,
            (o.o_custkey == c.c_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN {_REV_SQL} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE) AS promo_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-09-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): percentage of one month's revenue
    from PROMO-type parts. Conditional share in a single pass.

    Scale shape: the month filter prunes the lineitem scan to ~1/36 of
    the fact before the (broadcast) part join; both sums ride one
    map-side-combined aggregate; the 100.0 * x / y double expression
    is evaluated with identical associativity in both engines over
    exact integer inputs."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    l = table(spark, sf_dir, "lineitem").filter(
        (date_ge("l_shipdate", "1997-09-01"))
        & (date_lt("l_shipdate", "1997-10-01"))
    )
    units = _rev_units()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            *split_sum(
                F.when(F.col("p_type") == "PROMO", units).otherwise(0), "promo"
            ),
            *split_sum(units, "tot"),
        )
        .select(
            (
                F.lit(100.0)
                * split_total("promo").cast("double")
                / split_total("tot").cast("double")
            ).alias("promo_share")
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l.l_suppkey, SUM({_REV_SQL}) AS total
      FROM lineitem l
      WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '1997-04-01'
      GROUP BY l.l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(rev.total AS DOUBLE) / 10000 AS total_revenue
    FROM supplier s
    JOIN rev ON rev.l_suppkey = s.s_suppkey
    WHERE rev.total = (SELECT max(total) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum revenue
    in a quarter — Q15's CREATE VIEW + scalar MAX subquery, expressed
    as a reused aggregate.

    Scale shape: the quarterly revenue aggregate is computed ONCE (the
    DataFrame is reused for both the max and the equality filter —
    Spark's exchange reuse dedups the physical subtree); the max is a
    1-row broadcast, the equality comparison is on exact integers (no
    double-max tie ambiguity), and supplier joins by broadcast."""
    l = table(spark, sf_dir, "lineitem").filter(
        (date_ge("l_shipdate", "1997-01-01"))
        & (date_lt("l_shipdate", "1997-04-01"))
    )
    rev = (
        l.groupBy("l_suppkey")
        .agg(*split_sum(_rev_units(), "t"))
        .withColumn("total", split_total("t"))
    )
    top = rev.agg(F.max("total").alias("mx"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), rev.total == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total").cast("double") / 10000).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost if
    small orders (below 20% of a part's average order quantity) were
    not filled. The correlated scalar subquery decorrelates to a
    per-part average joined back — written in that decorrelated form
    directly (the oracle keeps the correlated SQL; DuckDB performs the
    same decorrelation).

    Scale shape: the per-part average is one map-side-combined
    aggregate over (partkey, qty); its result is part-cardinality
    (dimension-sized) and broadcasts back onto the brand-filtered
    lineitem. Quantities are integral doubles, so sum/count — and
    therefore the 0.2*avg threshold — are bit-identical across
    engines."""
    l = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    qlim = (
        l.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit"))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(qlim), l.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(*split_sum(cents(F.col("l_extendedprice")), "c"))
        .select(
            (split_total("c").cast("double") / 100 / F.lit(7.0)).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000 AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): three OR'd brand/size/quantity
    conjunctions spanning both join sides — the classic test of
    pushing the common parts of a disjunction below a join.

    Scale shape: Catalyst extracts the per-side implications
    (p_brand IN (...) AND p_size <= 15 onto part; l_quantity BETWEEN
    1 AND 30 onto lineitem) from the OR, so both scans shrink before
    the broadcast join; the residual disjunction evaluates post-join
    in codegen. One aggregate row out."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(*split_sum(_rev_units(), "u"))
        .select((split_total("u").cast("double") / 10000).alias("revenue"))
    )


@query(
    "q22_dormant_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS bal_c
      FROM customer WHERE c_acctbal > 0)
    SELECT n.n_name AS nation, count(*) AS numcust,
           CAST(SUM(CAST(floor(c.c_acctbal*100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE CAST(floor(c.c_acctbal*100 + 0.5) AS BIGINT)
            * (SELECT count(*) FROM pos) > (SELECT SUM(bal_c) FROM pos)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND CAST(o.o_orderdate AS DATE) >= DATE '2000-06-01')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity), adapted: no phone
    column, so the country-code IN-list becomes the nation dim, and
    "never ordered" (empty at this data's density) becomes "no order
    since 2000-06-01" — same anti-join + scalar-average-subquery
    topology.

    Scale shape: the above-average test avoids float avg entirely —
    `bal_cents * count > sum_cents` over exact integers (a 1-row
    broadcast of (count, sum)); the dormancy test is a LEFT ANTI join
    against the date-pruned orders scan; nation broadcasts. One
    customer-sized pass, no windowing."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    recent = table(spark, sf_dir, "orders").filter(
        date_ge("o_orderdate", "2000-06-01")
    ).select("o_custkey")
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.count("*").alias("n_pos"),
        F.sum(cents(F.col("c_acctbal"))).alias("sum_c"),
    )
    return (
        c.join(F.broadcast(stats))
        .filter(cents(F.col("c_acctbal")) * F.col("n_pos") > F.col("sum_c"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("numcust"),
            (
                F.sum(cents(F.col("c_acctbal"))).cast("double") / 100
            ).alias("totacctbal"),
        )
        .orderBy("nation")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 90
      AND n.n_name IN ('NATION_3', 'NATION_4')
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND CAST(l3.l_shipdate AS DATE)
              > CAST(o3.o_orderdate AS DATE) + 90)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted:
    "late" = shipped more than 90 days after the order date. A line
    item counts when its order involved other suppliers (EXISTS) and
    NO other supplier on the order was late (NOT EXISTS).

    Scale shape: the oracle states the classic correlated double
    EXISTS; the Spark plan decorrelates BOTH subqueries into a single
    per-order aggregate — countDistinct(supplier) and
    countDistinct(late supplier) in one map-side-combinable pass —
    joined back on the order key. One fact-sized aggregate + one
    equi-join replaces two correlated lineitem self-joins; a late row
    survives iff n_supp > 1 and n_late_supp == 1 (the row's own
    supplier being late makes it the unique late one). Supplier and
    nation broadcast; TakeOrderedAndProject top-20."""
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    flags = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.to_date("l_shipdate") > F.date_add(F.to_date("o_orderdate"), 90)
        ).alias("late"),
    )
    per_order = flags.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_4")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", "s_name")
    )
    return (
        flags.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "q12_latency_priority_classes",
    oracle="""
    SELECT CASE
             WHEN CAST(l.l_shipdate AS DATE)
                  <= CAST(o.o_orderdate AS DATE) + 30 THEN 'on_time'
             WHEN CAST(l.l_shipdate AS DATE)
                  <= CAST(o.o_orderdate AS DATE) + 90 THEN 'late'
             ELSE 'very_late'
           END AS delay_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY delay_class
    ORDER BY delay_class
    """,
)
def q12_latency_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority), adapted:
    no shipmode column, so the grouping key is the ship-delay class
    (on_time <= 30 days, late <= 90, very_late beyond) and the
    measures are Q12's high/low-priority line counts.

    Scale shape: the year filter pushes into the lineitem scan, the
    single fact-fact join (lineitem-orders on the order key) carries
    the derived delay class, and both priority counts ride ONE
    conditional-sum aggregate over three groups — map-side combined,
    no second pass."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = table(spark, sf_dir, "lineitem").filter(
        (date_ge("l_shipdate", "1997-01-01"))
        & (date_lt("l_shipdate", "1998-01-01"))
    ).select("l_orderkey", "l_shipdate")
    ship = F.to_date("l_shipdate")
    od = F.to_date("o_orderdate")
    delay_class = (
        F.when(ship <= F.date_add(od, 30), "on_time")
        .when(ship <= F.date_add(od, 90), "late")
        .otherwise("very_late")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(delay_class.alias("delay_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("delay_class")
    )


# ---------------------------------------------------------------------------
# Round 7: the four remaining TPC-H shapes (Q2/Q11/Q16/Q20), completing
# the 22-query suite. The driver schema has no partsupp table, so the
# supplier-part "supply" relation is derived from lineitem history (the
# same trimmed-schema adaptation round 6 applied to commitdate/phone):
# unit cost := min integer-milli-cents per unit ever charged, stock
# share := shipped quantity. The RELATIONAL shapes — correlated
# min-per-group join-back, global-share HAVING with a reused aggregate,
# NOT-IN anti join under a distinct count, and nested IN-subquery semi
# joins — are exactly Q2/Q11/Q16/Q20's.
# ---------------------------------------------------------------------------

_COST_MILLI_SQL = (
    "(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT) * 1000)"
    " // CAST(l.l_quantity AS BIGINT)"
)


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH supply AS (
      SELECT l.l_partkey, l.l_suppkey, min({_COST_MILLI_SQL}) AS cost_milli
      FROM lineitem l
      GROUP BY 1, 2
    ),
    esupp AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p.p_partkey, p.p_name, e.s_suppkey, e.s_name, e.s_acctbal,
             e.n_name, sp.cost_milli
      FROM part p
      JOIN supply sp ON sp.l_partkey = p.p_partkey
      JOIN esupp e ON e.s_suppkey = sp.l_suppkey
      WHERE p.p_size <= 10 AND p.p_type = 'LARGE'
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
           CAST(cost_milli AS DOUBLE) / 100000 AS unit_cost
    FROM cand c
    WHERE cost_milli = (SELECT min(cost_milli) FROM cand c2
                        WHERE c2.p_partkey = c.p_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each qualifying part, the
    European supplier(s) offering it at the lowest unit cost — Q2's
    correlated scalar-MIN subquery over a region-restricted supply
    relation, decorrelated to a per-part MIN joined back on equality.

    Unit cost is exact integer milli-cents (price-cents * 1000 DIV
    quantity — both engines use integer division on BIGINT), so the
    min-equality join has no floating tie ambiguity.

    Scale shape: the supply relation is one map-side-combined aggregate
    over (partkey, suppkey); the region-supplier chain and the filtered
    part dim are broadcast; the per-part MIN is dimension-sized and
    broadcasts back. One fact-sized shuffle total (the supply groupBy),
    reused by both the candidate join and the min — Spark's exchange
    reuse dedups the shared subtree."""
    l = table(spark, sf_dir, "lineitem")
    supply = (
        l.select(
            "l_partkey",
            "l_suppkey",
            F.expr(
                "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) * 1000"
                " DIV CAST(l_quantity AS BIGINT)"
            ).alias("unit_milli"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_milli").alias("cost_milli"))
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    esupp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 10) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_name")
    )
    cand = (
        supply.join(F.broadcast(p), supply.l_partkey == p.p_partkey)
        .join(F.broadcast(esupp), supply.l_suppkey == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal",
            "n_name", "cost_milli",
        )
    )
    mins = cand.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("cost_milli").alias("min_milli")
    )
    return (
        cand.join(
            F.broadcast(mins),
            (cand.p_partkey == mins.mk) & (cand.cost_milli == mins.min_milli),
        )
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name",
            (F.col("cost_milli").cast("double") / 100000).alias("unit_cost"),
        )
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey,
             SUM(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)
                 * CAST(l.l_quantity AS BIGINT)) AS value_units
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY 1)
    SELECT l_partkey AS p_partkey,
           CAST(value_units AS DOUBLE) / 100 AS total_value
    FROM val
    WHERE value_units * 1000 > (SELECT SUM(value_units) FROM val)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): parts whose
    European-supplied inventory value exceeds 0.1% of the total — Q11's
    HAVING-against-a-scalar-fraction-of-the-same-aggregate shape.

    The share test is exact integer algebra (value*1000 > total on
    decimal sums), not a double fraction, so both engines agree at the
    threshold boundary bit-for-bit.

    Scale shape: ONE fact aggregate, physically reused for both the
    per-part values and the grand total (exchange reuse); the total is
    a 1-row broadcast; the supplier-region restriction is a broadcast
    chain applied before the shuffle."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    esupp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    units = cents(F.col("l_extendedprice")) * F.col("l_quantity").cast("long")
    val = (
        l.join(F.broadcast(esupp), l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(*split_sum(units, "v"))
        .withColumn("value_units", split_total("v"))
    )
    total = val.agg(F.sum("value_units").alias("grand_total"))
    return (
        val.join(F.broadcast(total), F.col("value_units") * 1000 > F.col("grand_total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_units").cast("double") / 100).alias("total_value"),
        )
    )


@query(
    "q16_parts_supplier",
    oracle="""
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT pr.l_suppkey) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON p.p_partkey = pr.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND pr.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY 1, 2, 3
    """,
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct supplier count
    per (brand, type, size) bucket, excluding disqualified suppliers —
    Q16's NOT-IN subquery (here: suppliers in the low-balance book, the
    trimmed schema's stand-in for the comment-scan complaint filter)
    under a COUNT DISTINCT.

    Scale shape: the distinct (part, supplier) pair set is one
    map-side-combined aggregate; the part filter and the NOT-IN
    exclusion list are broadcasts (the exclusion is a broadcast ANTI
    join — suppkeys are non-null, so NOT IN is anti-join-safe); the
    final count-distinct groups by dimension attributes only."""
    l = table(spark, sf_dir, "lineitem")
    pairs = l.select("l_partkey", "l_suppkey").distinct()
    p = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (~F.col("p_type").startswith("PROMO"))
            & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000
    ).select("s_suppkey")
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(
            F.broadcast(bad),
            pairs.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_potential_promotion",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      GROUP BY 1, 2),
    tot AS (SELECT l_partkey, SUM(qty) AS part_qty FROM shipped GROUP BY 1)
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (
        SELECT sh.l_suppkey FROM shipped sh
        JOIN tot ON tot.l_partkey = sh.l_partkey
        WHERE sh.l_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE '%widget')
          AND 2 * sh.qty > tot.part_qty)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): Asian suppliers who
    dominated a widget part's shipments this year (more than half the
    part's total quantity) — Q20's nested IN-subquery chain
    (supplier IN (... part IN (...))) as layered semi joins over a
    derived supply relation.

    The dominance test is exact: 2*qty > part_qty on BIGINT sums.

    Scale shape: shipped is one date-pruned map-side-combined
    aggregate; its per-part total derives from the SAME aggregate
    (exchange reuse, no second fact scan); the widget part list
    broadcasts into a semi join; the dominant-supplier id set is
    supplier-dimension-sized and broadcasts into the final LEFT SEMI."""
    l = table(spark, sf_dir, "lineitem").filter(
        (date_ge("l_shipdate", "1997-01-01"))
        & (date_lt("l_shipdate", "1998-01-01"))
    )
    shipped = (
        l.select("l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("q"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("q").alias("qty"))
    )
    widgets = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget")
    ).select("p_partkey")
    wshipped = shipped.join(
        F.broadcast(widgets), shipped.l_partkey == F.col("p_partkey"), "left_semi"
    )
    tot = wshipped.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("qty").alias("part_qty")
    )
    dominant = (
        wshipped.join(F.broadcast(tot), wshipped.l_partkey == F.col("tk"))
        .filter(2 * F.col("qty") > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(dominant), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )
