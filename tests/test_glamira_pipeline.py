"""End-to-end tests of the Glamira warehouse DAG over synthetic raw data.

Three layers, mirroring the reference's test strategy (SURVEY.md §5)
plus a DuckDB differential check it lacks:
1. dbt-style constraint tests (unique/not_null) from schema.yml
2. audit metric sanity (null rates, orphan rates within expectations)
3. DuckDB replication of stg_order's hairiest semantics (double
   LEFT JOIN UNNEST WITH OFFSET + localized price parse) over the SAME
   generated parquet — full differential on the flattened line items.
"""

from __future__ import annotations

import threading
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from glamira_batch_processing_spark.plans.checks import (
    check_accepted_values,
    check_not_null,
    check_unique,
)
from glamira_batch_processing_spark.plans.glamira import build_glamira_pipeline
from glamira_batch_processing_spark.sources.raw_generator import write_raw_tables

N_EVENTS = 8000
TABLES = (
    "customer_email_scd", "mart_dim_customer", "mart_dim_product",
    "mart_dim_location", "mart_dim_date", "mart_fact_order",
    "audit_null_rates_stg_order", "audit_orphan_rates",
)


@pytest.fixture(scope="module")
def glamira(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("glamira")
    paths = write_raw_tables(spark, str(base / "raw"), n_events=N_EVENTS)
    p = _pipeline(spark, paths, str(base / "models"))
    p.run()
    return p, paths


def _pipeline(spark, paths, workdir):
    return build_glamira_pipeline(
        spark,
        raw_events=spark.read.parquet(paths["raw_events"]),
        raw_product=spark.read.parquet(paths["raw_product"]),
        raw_ip_locations=spark.read.parquet(paths["raw_ip_locations"]),
        workdir=workdir,
    )


def test_stg_order_constraints(glamira):
    p, _ = glamira
    o = p.ref("stg_order")
    assert check_unique(o, "item_key") == 0
    assert check_not_null(o, ["order_id", "time_stamp", "event_ts", "store_id"]) == 0
    assert o.count() > 0
    # NULL carts are impossible here (every checkout has items), but NULL
    # option arrays must have survived the outer explode:
    assert o.filter(F.col("option_id").isNull()).count() > 0


def test_stg_customer_constraints(glamira):
    p, _ = glamira
    c = p.ref("stg_customer")
    assert check_unique(c, ["email_address", "user_db_id"]) == 0
    assert check_not_null(c, ["email_address", "user_db_id"]) == 0
    assert check_accepted_values(
        c, "has_email_multiple_user_ids", ["Unique", "Multiple"]
    ) == 0
    # generator maps emails (mod 400) across users (mod 500) -> multiples exist
    assert c.filter(F.col("has_email_multiple_user_ids") == "Multiple").count() > 0


def test_stg_product_constraints(glamira):
    p, _ = glamira
    pr = p.ref("stg_product")
    assert check_not_null(pr, ["product_key", "sku"]) == 0
    assert check_unique(pr, "product_id") == 0
    # unparsable weights became NULL via try_cast, not errors
    assert pr.filter(F.col("gold_weight").isNull()).count() > 0


def test_stg_location_constraints(glamira):
    p, _ = glamira
    loc = p.ref("stg_location")
    assert check_unique(loc, "ip") == 0
    assert check_not_null(loc, ["location_key", "ip"]) == 0
    dim = p.ref("mart_dim_location")
    assert check_unique(dim, "location_key") == 0


def test_mart_dims(glamira):
    p, _ = glamira
    dc = p.ref("mart_dim_customer")
    assert check_unique(dc, "user_db_id") == 0
    dd = p.ref("mart_dim_date")
    assert dd.count() == 13149  # 2015-01-01 .. 2050-12-31 (BASELINE.md)
    assert check_unique(dd, "date") == 0


def test_mart_fact_order(glamira):
    p, _ = glamira
    f = p.ref("mart_fact_order")
    assert check_unique(f, "item_key") == 0
    assert f.count() == p.ref("stg_order").count()
    # INFERRED rows exist (ambiguous $/kr + mapped TLD) and carry fx
    inferred = f.filter(F.col("currency_status") == "INFERRED")
    assert inferred.count() > 0
    assert inferred.filter(F.col("line_total_amount_usd").isNotNull()).count() > 0
    # UNKNOWN-currency rows have NULL usd amounts
    assert (
        f.filter(F.col("currency_code").isNull())
        .filter(F.col("line_total_amount_usd").isNotNull())
        .count()
        == 0
    )


def test_scd2_snapshot(glamira):
    p, _ = glamira
    scd = p.ref("customer_email_scd")
    assert check_not_null(scd, ["user_db_id", "email_address", "event_ts"]) == 0
    # rn=1 is unique per user (current marker, W3)
    current = scd.filter(F.col("rn") == 1)
    assert check_unique(current, "user_db_id") == 0


def test_qa_and_audit(glamira):
    p, _ = glamira
    qa = p.ref("int_order_qa")
    total = qa.count()
    valid = qa.filter(F.col("is_row_valid")).count()
    assert 0 < valid < total  # generator injects both clean and dirty rows
    nr = p.ref("audit_null_rates_stg_order").collect()[0]
    assert nr.rows_total == total
    assert 0 < nr.null_rate_user_db_id < 1
    orr = p.ref("audit_orphan_rates").collect()[0]
    assert orr.fact_rows == total
    assert 0 < orr.orphan_location_rate < 0.2  # ~2% orphan ips + specials
    assert orr.orphan_product_rate < 0.2



def test_orphan_rates_equal_duckdb_left_join_count(glamira, tmp_path):
    """The audit's EXISTS flags count what the reference's LEFT JOIN
    counts against DISTINCT dim keys, over the staging models written to
    parquet. The fixture has NULL fact keys and duplicate dim keys: a
    NULL key is an orphan, and a duplicate key must not fan out."""
    import duckdb

    p, _ = glamira
    con = duckdb.connect()
    for name in ("stg_order", "stg_product", "stg_customer", "stg_location"):
        p.ref(name).write.parquet(str(tmp_path / name))
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path / name}/*.parquet'")
    assert con.sql("SELECT count(*) FROM stg_order WHERE user_db_id IS NULL").fetchone()[0] > 0
    assert con.sql(
        "SELECT count(*) - count(DISTINCT user_db_id) FROM stg_customer"
    ).fetchone()[0] > 0
    expect = con.sql(
        """
        SELECT count(*) AS fact_rows,
               count(*) FILTER (WHERE p.k IS NULL) AS orphan_product_rows,
               count(*) FILTER (WHERE c.k IS NULL) AS orphan_customer_rows,
               count(*) FILTER (WHERE l.k IS NULL) AS orphan_location_rows
        FROM stg_order o
        LEFT JOIN (SELECT DISTINCT product_id AS k FROM stg_product) p ON o.product_id = p.k
        LEFT JOIN (SELECT DISTINCT user_db_id AS k FROM stg_customer) c ON o.user_db_id = c.k
        LEFT JOIN (SELECT DISTINCT ip AS k FROM stg_location) l ON o.ip = l.k
        """
    ).fetchone()
    got = p.ref("audit_orphan_rates").collect()[0]
    assert (
        got.fact_rows, got.orphan_product_rows, got.orphan_customer_rows,
        got.orphan_location_rows,
    ) == expect
    assert got.orphan_customer_rate == expect[2] / expect[0]

def test_stg_order_vs_duckdb(glamira, spark):
    """Differential: replicate stg_order's flatten+parse in DuckDB over
    the same parquet and compare the full flattened line-item set."""
    import duckdb

    p, paths = glamira
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW raw_events AS SELECT * FROM '{paths['raw_events']}/*.parquet'"
    )
    duck = con.sql(
        """
        WITH base AS (
          SELECT order_id, time_stamp, ip, cart_products
          FROM raw_events WHERE collection = 'checkout_success'
        ),
        li AS (
          SELECT order_id, time_stamp, ip,
                 generate_subscripts(cart_products, 1) - 1 AS cp_offset,
                 unnest(cart_products) AS cp
          FROM base WHERE cart_products IS NOT NULL
        ),
        flat AS (
          SELECT order_id, time_stamp, ip, cp_offset,
                 TRY_CAST(cp.product_id AS BIGINT) AS product_id,
                 TRY_CAST(cp.amount AS BIGINT) AS product_quantity,
                 cp.price AS price_raw,
                 cp.option AS opts
          FROM li
        ),
        with_opts AS (
          SELECT order_id, time_stamp, ip, cp_offset, product_id,
                 product_quantity, price_raw,
                 generate_subscripts(opts, 1) - 1 AS opt_offset,
                 unnest(opts) AS opt
          FROM flat WHERE opts IS NOT NULL AND len(opts) > 0
          UNION ALL
          SELECT order_id, time_stamp, ip, cp_offset, product_id,
                 product_quantity, price_raw, NULL, NULL
          FROM flat WHERE opts IS NULL OR len(opts) = 0
        )
        SELECT order_id, cp_offset, opt_offset,
               opt.option_id AS option_id,
               product_id, product_quantity,
               CAST(TRY_CAST(
                 trim(replace(
                   CASE
                     WHEN strpos(replace(price_raw, '٫', '.'), ',') > 0
                          AND strpos(replace(price_raw, '٫', '.'), '.') > 0 THEN
                       CASE WHEN strpos(replace(price_raw, '٫', '.'), ',')
                                 < strpos(replace(price_raw, '٫', '.'), '.')
                            THEN replace(replace(price_raw, '٫', '.'), ',', '')
                            ELSE replace(replace(replace(price_raw, '٫', '.'), '.', ''), ',', '.')
                       END
                     WHEN strpos(replace(price_raw, '٫', '.'), ',') > 0
                       THEN replace(replace(price_raw, '٫', '.'), ',', '.')
                     ELSE replace(price_raw, '٫', '.')
                   END, ' ', ''))
                 AS DECIMAL(38,9)) AS DOUBLE) AS product_price
        FROM with_opts
        """
    ).df()

    o = p.ref("stg_order").select(
        "order_id",
        "cp_offset",
        "opt_offset",
        "option_id",
        "product_id",
        "product_quantity",
        F.col("product_price").cast("double").alias("product_price"),
    )
    spdf = o.toPandas()

    def normset(pdf):
        cols = sorted(pdf.columns)
        return sorted(
            tuple("NULL" if v is None or v != v else repr(v) if isinstance(v, float) else str(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)
        )

    s, d = normset(spdf), normset(duck)
    assert len(s) == len(d), f"row counts differ: spark={len(s)} duck={len(d)}"
    assert s == d


def test_e2e_flatten_equals_stg_order(spark):
    """The two double-flatten implementations agree: the contract query
    glamira_e2e_order_flatten and the warehouse's stg_order, run over
    the raw events glamira_pipeline_e2e builds from the same TPC-H
    carts, emit the same line items."""
    from glamira_batch_processing_spark.plans import pipeline_e2e
    from glamira_batch_processing_spark.plans.e2e_queries import (
        glamira_e2e_order_flatten,
    )

    from tests.conftest import SF_SMALL

    def items(df, order_id, pos, opt_pos, quantity, price):
        return df.select(
            F.col(order_id).cast("long"),
            F.coalesce(F.col(pos), F.lit(-1)),
            F.coalesce(F.col(opt_pos), F.lit(-1)),
            "product_id",
            F.col(quantity),
            F.col(price).cast("double"),
            "option_id",
        ).collect()

    flat = items(
        glamira_e2e_order_flatten(spark, SF_SMALL),
        "o_orderkey", "pos", "opt_pos", "quantity", "price",
    )
    p = build_glamira_pipeline(
        spark,
        raw_events=pipeline_e2e._raw_events(spark, SF_SMALL),
        raw_product=pipeline_e2e._raw_product(spark, SF_SMALL),
        raw_ip_locations=pipeline_e2e._raw_ip_locations(spark, SF_SMALL),
        workdir=None,
    )
    stg = items(
        p.ref("stg_order"),
        "order_id", "cp_offset", "opt_offset", "product_quantity", "product_price",
    )
    assert len(flat) == len(stg) > 0
    assert _multiset(flat) == _multiset(stg)


def test_mart_fact_usd_vs_duckdb(glamira, spark):
    """End-to-end warehouse differential: USD revenue by currency_code
    from mart_fact_order vs a full DuckDB replication (flatten -> parse
    -> currency map -> TLD inference -> fx join -> USD) over the same
    raw parquet."""
    import duckdb
    from pyspark.sql import functions as F

    from glamira_batch_processing_spark.functions.currency import FX_SEED_ROWS

    p, paths = glamira
    fx_values = ",\n      ".join(
        f"('{code}', {rate!r})" for _, _, code, rate in FX_SEED_ROWS
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW raw_events AS SELECT * FROM '{paths['raw_events']}/*.parquet'"
    )
    parse = """
      TRY_CAST(trim(replace(
        CASE
          WHEN strpos(replace(cp.price, '٫', '.'), ',') > 0
               AND strpos(replace(cp.price, '٫', '.'), '.') > 0 THEN
            CASE WHEN strpos(replace(cp.price, '٫', '.'), ',')
                      < strpos(replace(cp.price, '٫', '.'), '.')
                 THEN replace(replace(cp.price, '٫', '.'), ',', '')
                 ELSE replace(replace(replace(cp.price, '٫', '.'), '.', ''), ',', '.')
            END
          WHEN strpos(replace(cp.price, '٫', '.'), ',') > 0
            THEN replace(replace(cp.price, '٫', '.'), ',', '.')
          ELSE replace(cp.price, '٫', '.')
        END, ' ', '')) AS DECIMAL(38,9))
    """
    duck = con.sql(
        f"""
    WITH li AS (
      SELECT current_url, unnest(cart_products) AS cp
      FROM raw_events
      WHERE collection = 'checkout_success' AND cart_products IS NOT NULL
    ),
    typed AS (
      SELECT current_url,
             TRY_CAST(cp.amount AS BIGINT) AS qty,
             {parse} AS price,
             trim(cp.currency) AS cur,
             lower(trim(cp.currency)) AS cur_norm
      FROM li
    ),
    mapped AS (
      SELECT *,
        CASE
          WHEN cur IS NULL OR cur = '' THEN NULL
          WHEN cur_norm = 'usd $' THEN 'USD'
          WHEN cur_norm = 'zł' THEN 'PLN'
          WHEN cur_norm = 'kč' THEN 'CZK'
          WHEN cur_norm = 'лв.' THEN 'BGN'
          WHEN cur_norm = 'din.' THEN 'RSD'
          WHEN cur_norm = 'r$' THEN 'BRL'
          WHEN cur = '€' THEN 'EUR'
          WHEN cur = '£' THEN 'GBP'
          WHEN cur = 'د.ك.‏' THEN 'KWD'
          ELSE NULL
        END AS mapped_code,
        CASE WHEN cur = '$' OR cur_norm = 'kr' THEN TRUE ELSE FALSE END AS ambiguous,
        regexp_extract(lower(trim(coalesce(regexp_extract(current_url, '://([^/]+)', 1), ''))), '\\.([a-z]{{2,}})$', 1) AS tld,
        lower(trim(coalesce(regexp_extract(current_url, '://([^/]+)', 1), ''))) AS host
      FROM typed
    ),
    inferred AS (
      SELECT *,
        coalesce(mapped_code,
          CASE WHEN ambiguous THEN
            CASE
              WHEN host LIKE '%co.uk' THEN 'GBP'
              WHEN tld = 'uk' THEN 'GBP' WHEN tld = 'de' THEN 'EUR'
              WHEN tld = 'fr' THEN 'EUR' WHEN tld = 'it' THEN 'EUR'
              WHEN tld = 'se' THEN 'SEK' WHEN tld = 'dk' THEN 'DKK'
              WHEN tld = 'vn' THEN 'VND'
              ELSE NULL
            END
          ELSE NULL END) AS code
      FROM mapped
    ),
    fx(currency_code, usd_to_ccy) AS (VALUES
      {fx_values}
    )
    SELECT i.code AS currency_code,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN i.code IS NULL OR fx.usd_to_ccy IS NULL THEN NULL
                    ELSE (i.qty * i.price) / CAST(fx.usd_to_ccy AS DECIMAL(38,9)) END)
                AS DOUBLE) AS usd_total
    FROM inferred i
    LEFT JOIN fx ON fx.currency_code = i.code
    GROUP BY i.code
    """
    ).df()

    fact = p.ref("mart_fact_order")
    # mart grain is option-level; de-duplicate back to cart-item grain
    # (order x cp_offset) before summing so totals match the cart items.
    item_grain = fact.select(
        "order_id", "cp_offset", "currency_code", "line_total_amount_usd"
    ).dropDuplicates(["order_id", "cp_offset"])
    got = {
        r.currency_code: (r.n_lines, r.usd_total)
        for r in item_grain.groupBy("currency_code")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("line_total_amount_usd").cast("double").alias("usd_total"),
        )
        .collect()
    }
    want = {r.currency_code if r.currency_code == r.currency_code else None: (r.n_lines, r.usd_total) for r in duck.itertuples(index=False)}
    want = {
        (None if (isinstance(k, float)) else k): v for k, v in want.items()
    }
    assert set(got) == set(want), (sorted(map(str, got)), sorted(map(str, want)))
    for k in got:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        a, b = got[k][1], want[k][1]
        if a is None or b is None or b != b:
            assert (a is None or a != a) and (b is None or b != b), (k, a, b)
        else:
            assert abs(a - b) <= 1e-6 * max(1.0, abs(b)), (k, a, b)


# Adversarial customer rows appended to the generator's events for the
# reference-SQL differential below: user ids that cast to the same long
# ("09001" / "9001") sharing an email, fake-null and blank ids, an id
# that does not cast, a latest-time tie broken by the normalized email,
# and users whose only emails come from non-checkout events.
EDGE_EVENTS = (
    # (user_id_db, email_address, time_stamp, is_checkout)
    ("09001", "twin@edge.test", 1700000000, True),
    ("9001", "twin@edge.test", 1700000100, True),
    ("9001", "solo9001@edge.test", 1700000200, False),
    ("9002", "Zed@edge.test", 1700000300, True),
    ("9002", "alpha@edge.test", 1700000300, True),
    ("9002", "older@edge.test", 1600000000, True),
    ("9003", " Carol@edge.test ", 1700000400, False),
    ("9003", "bob@edge.test", 1700000500, False),
    ("9004", "aaa@edge.test", 1700000600, False),
    ("9004", "zzz@edge.test", 1700000700, True),
    ("9004", "   ", 1700000800, True),
    ("abc9006", "nocast@edge.test", 1700000900, True),
    ("abc9006", "nocast2@edge.test", 1700000950, False),
    ("NULL", "fake@edge.test", 1700001000, True),
    (" N/A ", "fake@edge.test", 1700001100, True),
    ("None", "fake@edge.test", 1700001150, False),
    ("", "fake@edge.test", 1700001200, True),
    ("  ", "fake@edge.test", 1700001300, False),
    (None, "fake@edge.test", 1700001400, True),
    ("9007", None, 1700001500, True),
    ("9007", "Shared@Edge.test", 1700001600, False),
    ("9008", "shared@edge.test", 1700001700, True),
)


@pytest.fixture(scope="module")
def customer_edge(spark, glamira, tmp_path_factory):
    """The generator's raw events plus ``EDGE_EVENTS``, with the
    customer branch (stg_customer -> customer_email_scd ->
    mart_dim_customer) built over them."""
    _, paths = glamira
    base = tmp_path_factory.mktemp("customer_edge")
    raw = spark.read.parquet(paths["raw_events"])
    rows = [
        {
            **{f: None for f in raw.columns},
            "order_id": f"EDGE{k}" if checkout else None,
            "time_stamp": ts,
            "collection": "checkout_success" if checkout else "view_product_detail",
            "ip": "1.2.3.4",
            "user_id_db": uid,
            "store_id": "1",
            "email_address": email,
        }
        for k, (uid, email, ts, checkout) in enumerate(EDGE_EVENTS)
    ]
    extra = spark.createDataFrame([tuple(r[f] for f in raw.columns) for r in rows], raw.schema)
    edge_paths = {**paths, "raw_events": str(base / "raw_events.parquet")}
    raw.unionByName(extra).write.parquet(edge_paths["raw_events"])
    p = _pipeline(spark, edge_paths, str(base / "models"))
    p.ref("mart_dim_customer")
    return p, edge_paths


# DuckDB transcriptions of the reference models as written: a status
# per user_id_db joined back to the events, the per-email distinct-id
# count joined to the distinct (email, id) pairs, and the two-step
# latest-email dedupe merged back onto the staging emails. They share no
# code with the Spark models, so agreeing with them does not rest on the
# rewrites being right.
REF_STG_CUSTOMER = """
WITH user_check AS (                      -- stg_customer.sql:3-14
  SELECT user_id_db,
         CASE WHEN user_id_db IS NULL THEN 'NULL'
              WHEN trim(user_id_db) = '' THEN 'EMPTY'
              WHEN lower(trim(user_id_db)) IN ('null', 'n/a', 'na', 'none', 'undefined')
                THEN 'FAKE_NULL'
              ELSE 'VALID' END AS user_status
  FROM raw_events
  GROUP BY user_id_db
),
checked AS (                              -- stg_customer.sql:16-26
  SELECT cs.email_address, CAST(cs.user_id_db AS VARCHAR) AS user_db_id
  FROM user_check uc JOIN raw_events cs ON uc.user_id_db = cs.user_id_db
  WHERE cs.email_address IS NOT NULL AND trim(cs.email_address) != ''
    AND uc.user_status = 'VALID'
),
email_base AS (                           -- stg_customer.sql:28-39
  SELECT email_address,
         CASE WHEN count(DISTINCT user_db_id) = 1 THEN 'Unique'
              WHEN count(DISTINCT user_db_id) > 1 THEN 'Multiple'
              ELSE 'Unknown' END AS has_email_multiple_user_ids
  FROM checked
  GROUP BY email_address
),
email_user_pairs AS (                     -- stg_customer.sql:41-47
  SELECT DISTINCT email_address, user_db_id FROM checked
)
SELECT p.email_address,                   -- stg_customer.sql:49-55
       TRY_CAST(p.user_db_id AS BIGINT) AS user_db_id,
       b.has_email_multiple_user_ids
FROM email_user_pairs p JOIN email_base b USING (email_address)
"""

REF_MART_DIM_CUSTOMER = """
WITH scd AS (                             -- customer_email_scd.sql:26-31
  SELECT TRY_CAST(e.user_id_db AS BIGINT) AS user_db_id,
         lower(trim(e.email_address)) AS email_address,
         e.time_stamp AS time
  FROM raw_events e
  JOIN (SELECT DISTINCT user_db_id FROM stg_customer) c
    ON TRY_CAST(e.user_id_db AS BIGINT) = c.user_db_id
  WHERE e.collection = 'checkout_success'
    AND e.email_address IS NOT NULL AND trim(e.email_address) != ''
),
latest AS (                               -- mart_dim_customer.sql:24-40
  SELECT user_db_id, email_address AS latest_seen_email_address, time AS last_seen_ts
  FROM (SELECT *, row_number() OVER (PARTITION BY email_address, user_db_id
                                     ORDER BY time DESC NULLS LAST) AS rn
        FROM scd)
  WHERE rn = 1
),
latest_per_user AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_db_id
      ORDER BY last_seen_ts DESC NULLS LAST, latest_seen_email_address ASC NULLS FIRST) AS rn
    FROM latest)
  WHERE rn = 1
),
merged AS (
  SELECT DISTINCT c.user_db_id,
         coalesce(l.latest_seen_email_address, lower(trim(c.email_address))) AS email_address_final,
         l.last_seen_ts
  FROM stg_customer c LEFT JOIN latest_per_user l ON c.user_db_id = l.user_db_id
)
SELECT user_db_id, email_address_final, last_seen_ts FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_db_id
    ORDER BY last_seen_ts DESC NULLS LAST, email_address_final ASC NULLS FIRST) AS rn
  FROM merged)
WHERE rn = 1
"""


def _multiset(rows) -> Counter:
    return Counter(tuple(None if v != v else v for v in row) for row in rows)


def _reference_duck(paths):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW raw_events AS SELECT * FROM '{paths['raw_events']}/*.parquet'"
    )
    con.execute(f"CREATE VIEW stg_customer AS {REF_STG_CUSTOMER}")
    return con


def test_stg_customer_equals_reference_sql(customer_edge):
    """stg_customer is the reference's four-step model, row for row,
    including the two rows ``"09001"`` and ``"9001"`` leave for one
    shared email."""
    p, paths = customer_edge
    con = _reference_duck(paths)
    want = _multiset(con.sql("SELECT * FROM stg_customer").fetchall())
    got = _multiset(
        p.ref("stg_customer")
        .select("email_address", "user_db_id", "has_email_multiple_user_ids")
        .collect()
    )
    assert got == want
    assert want[("twin@edge.test", 9001, "Multiple")] == 2
    assert not any(email == "fake@edge.test" for email, _, _ in want)


def test_mart_dim_customer_equals_reference_sql(customer_edge):
    """mart_dim_customer is the reference's dedupe / merge-back / one
    row per user over reference-SQL staging and history rows."""
    p, paths = customer_edge
    con = _reference_duck(paths)
    want = _multiset(con.sql(REF_MART_DIM_CUSTOMER).fetchall())
    got = _multiset(
        p.ref("mart_dim_customer")
        .select("user_db_id", "email_address_final", F.unix_seconds("last_seen_ts"))
        .collect()
    )
    assert got == want
    finals = {user: email for user, email, _ in want}
    # tie at the latest time -> smallest normalized email; no history ->
    # smallest staging email; history -> latest email over staging
    assert finals[9002] == "alpha@edge.test"
    assert finals[9003] == "bob@edge.test"
    assert finals[9004] == "zzz@edge.test"
    assert finals[None] == "nocast2@edge.test"


def test_incremental_fact_run(glamira, spark, tmp_path):
    """P7+J11 wired through the warehouse: day-1 fact + overlapping day-2
    re-extract merge to exactly the full-history fact (source wins on
    collision, lookback overlap deduped by item_key)."""
    from glamira_batch_processing_spark.operators.incremental import merge_upsert

    p, _ = glamira
    full = p.ref("stg_order")
    cutoff = 1480000000
    lookback = cutoff - 3 * 86400  # the reference's 3-day lookback
    day1 = full.filter(F.col("time_stamp") < cutoff)
    day2 = full.filter(F.col("time_stamp") >= lookback)  # overlaps day1
    merged = merge_upsert(day1, day2, ["item_key"])
    assert merged.count() == full.count()
    a = sorted(r.item_key for r in merged.select("item_key").collect())
    b = sorted(r.item_key for r in full.select("item_key").collect())
    assert a == b


def test_run_results_artifact(spark, tmp_path):
    """dbt target/run_results.json parity (SURVEY §3.1): per-model
    status, timing, materialization, dependency order, row counts for
    tables, error capture for failing models."""
    import json

    from glamira_batch_processing_spark.plans.pipeline import Pipeline

    p = Pipeline(spark, workdir=str(tmp_path))
    p.add_source("src", spark.range(10).toDF("n"))

    @p.model("base", materialized="view")
    def base(pl):
        return pl.source("src").filter("n < 8")

    @p.model("agg", materialized="table")
    def agg(pl):
        from pyspark.sql import functions as F

        return pl.ref("base").agg(F.count("*").alias("c"))

    p.run(["agg"])
    res = p.run_results()
    assert [r["model"] for r in res] == ["base", "agg"]  # dependency order
    assert all(r["status"] == "success" for r in res)
    assert res[0]["rows"] is None and res[0]["materialized"] == "view"
    assert res[1]["rows"] == 1 and res[1]["materialized"] == "table"
    assert all(r["elapsed_s"] >= 0 for r in res)
    path = p.write_run_results()
    on_disk = json.loads(open(path).read())
    assert [r["model"] for r in on_disk["results"]] == ["base", "agg"]

    # error capture: the failing model records an error entry and raises
    p2 = Pipeline(spark, workdir=str(tmp_path / "p2"))
    p2.add_source("src", spark.range(3).toDF("n"))

    @p2.model("bad", materialized="view")
    def bad(pl):
        raise RuntimeError("boom")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        p2.run(["bad"])
    assert p2.run_results()[-1]["status"] == "error"
    assert "boom" in p2.run_results()[-1]["message"]


def test_manifest_records_observed_dag(glamira):
    """manifest.json parity: dependency edges come from the ref()/
    source() calls the build actually made — for the real Glamira DAG,
    the fact mart must depend on its staging/dim models."""
    import json

    p, _ = glamira
    man = p.manifest()
    deps = man["models"]["mart_fact_order"]["depends_on"]
    assert "stg_order" in deps or "int_order_qa" in deps or any(
        d.startswith(("stg_", "int_", "dim_")) for d in deps
    ), deps
    # every recorded dependency is a declared model
    for m, node in man["models"].items():
        for d in node["depends_on"]:
            assert d in man["models"], (m, d)
    path = p.write_manifest()
    assert json.loads(open(path).read())["models"]


def test_check_relationships_fk_integrity(spark):
    """dbt 'relationships' test analog: orphaned FK rows counted,
    NULL FKs pass (dbt semantics)."""
    from glamira_batch_processing_spark.plans.checks import check_relationships

    parent = spark.createDataFrame([(1,), (2,)], "id long")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3), (13, None)], "ck long, fk long"
    )
    assert check_relationships(child, "fk", parent, "id") == 1
    ok = spark.createDataFrame([(10, 1), (13, None)], "ck long, fk long")
    assert check_relationships(ok, "fk", parent, "id") == 0


def test_table_reread_schema_equals_inferred(glamira, spark):
    """A table's re-read takes its schema from the frame just written;
    it must be exactly what parquet inference would give."""
    p, _ = glamira
    for t in TABLES:
        assert p.ref(t).schema == spark.read.parquet(f"{p.workdir}/{t}").schema, t


def test_run_equals_serial_ref_build(glamira, spark, tmp_path):
    """The concurrent run() builds the same tables as ref() called
    serially in model order over the same raw inputs."""
    p, paths = glamira
    serial = _pipeline(spark, paths, str(tmp_path / "serial"))
    for name in serial.models:
        serial.ref(name)
    for t in TABLES:
        got, want = p.ref(t).drop("run_ts"), serial.ref(t).drop("run_ts")
        assert got.count() == want.count() > 0, t
        assert got.exceptAll(want).isEmpty(), t
        assert want.exceptAll(got).isEmpty(), t


def _table_deps(manifest, name, seen=None):
    """Table models ``name`` depends on, directly or through views."""
    seen = set() if seen is None else seen
    for d in manifest["models"][name]["depends_on"]:
        if d not in seen:
            seen.add(d)
            _table_deps(manifest, d, seen)
    return {d for d in seen if manifest["models"][d]["materialized"] == "table"}


def test_run_results_timing_shows_overlap_and_order(glamira):
    """run() executes independent tables concurrently, and no model
    starts executing before its table dependencies have completed."""
    p, _ = glamira
    res = {r["model"]: r for r in p.run_results()}
    assert set(res) == set(p.models)
    for r in res.values():
        assert r["status"] == "success"
        assert r["build_s"] >= 0 and r["execute_s"] >= 0, r
        assert r["started_at"] <= r["completed_at"], r
        assert r["build_s"] + r["execute_s"] <= r["elapsed_s"] + 1e-3, r
        assert r["thread_id"], r
    execute = {m: (r["completed_at"] - r["execute_s"], r["completed_at"]) for m, r in res.items()}
    overlapping = [
        (a, b)
        for i, a in enumerate(TABLES)
        for b in TABLES[i + 1:]
        if execute[a][0] < execute[b][1] and execute[b][0] < execute[a][1]
    ]
    assert overlapping, execute
    manifest = p.manifest()
    for m in res:
        for dep in _table_deps(manifest, m):
            assert execute[m][0] >= res[dep]["completed_at"], (m, dep)


class Boom(Exception):
    pass


def test_run_failure_raises_original_after_in_flight_finish(spark, tmp_path):
    """A failing model: run() waits for the models still building, then
    raises the model's own exception; a dependent waiting on it fails
    with an error record instead of hanging."""
    from glamira_batch_processing_spark.plans.pipeline import Pipeline, UpstreamError

    p = Pipeline(spark, workdir=str(tmp_path))
    p.add_source("src", spark.range(100).toDF("n"))
    bad_started = threading.Event()

    # declared first, so run() reads its (wrapped) failure first
    @p.model("dependent", materialized="table")
    def dependent(pl):
        bad_started.wait()
        return pl.ref("bad")

    @p.model("bad")
    def bad(pl):
        bad_started.set()
        time.sleep(0.2)
        raise Boom("boom")

    @p.model("slow", materialized="table")
    def slow(pl):
        bad_started.wait()
        time.sleep(1.0)  # still building when bad fails
        return pl.source("src").selectExpr("n", "n * 2 AS m")

    outcome = {}

    def target():
        try:
            p.run()
        except Exception as exc:  # handed to the test thread
            outcome["exc"] = exc

    runner = threading.Thread(target=target, daemon=True)
    runner.start()
    runner.join(timeout=120)
    assert not runner.is_alive(), "run() hung after a model failed"
    assert isinstance(outcome.get("exc"), Boom), outcome
    res = {r["model"]: r for r in p.run_results()}
    assert res["bad"]["status"] == "error" and "boom" in res["bad"]["message"]
    assert res["dependent"]["status"] == "error"
    assert UpstreamError.__name__ in res["dependent"]["message"]
    assert res["slow"]["status"] == "success" and res["slow"]["rows"] == 100
    assert res["slow"]["completed_at"] > res["bad"]["completed_at"]


def test_dependency_cycle_raises_instead_of_hanging(spark):
    """A model that refs itself, directly or across run()'s threads,
    fails with a cycle error; no thread waits forever."""
    from glamira_batch_processing_spark.plans.pipeline import Pipeline

    p = Pipeline(spark)

    @p.model("selfref")
    def selfref(pl):
        return pl.ref("selfref")

    with pytest.raises(RuntimeError, match="cycle"):
        p.ref("selfref")

    p.model("a")(lambda pl: pl.ref("b"))
    p.model("b")(lambda pl: pl.ref("a"))
    outcome = {}

    def target():
        try:
            p.run(["a", "b"])
        except Exception as exc:  # handed to the test thread
            outcome["exc"] = exc

    runner = threading.Thread(target=target, daemon=True)
    runner.start()
    runner.join(timeout=60)
    assert not runner.is_alive(), "run() hung on a dependency cycle"
    assert isinstance(outcome.get("exc"), RuntimeError), outcome
    assert "cycle" in str(outcome["exc"])


def test_run_builds_each_model_once_under_thread_switch_stress(spark):
    """More model threads than cores over a shared diamond-heavy DAG,
    with the interpreter switching threads as often as it can: every
    model function runs exactly once, and every observed edge is kept."""
    import sys

    from glamira_batch_processing_spark.plans.pipeline import Pipeline

    p = Pipeline(spark)
    p.add_source("src", spark.range(4).toDF("n"))
    calls: dict[str, int] = {}
    calls_lock = threading.Lock()
    n_models = 24
    parents = {i: [j for j in (i // 2, i // 3, i - 1) if 0 <= j < i] for i in range(n_models)}

    def make(i):
        def fn(pl):
            with calls_lock:
                calls[f"m{i}"] = calls.get(f"m{i}", 0) + 1
            df = pl.source("src")
            for j in sorted(set(parents[i])):
                df = df.unionByName(pl.ref(f"m{j}"))
            return df
        return fn

    for i in range(n_models):
        p.model(f"m{i}")(make(i))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        runner = threading.Thread(target=p.run, daemon=True)
        runner.start()
        runner.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not runner.is_alive(), "run() did not finish"
    assert calls == {f"m{i}": 1 for i in range(n_models)}
    assert sorted(r["model"] for r in p.run_results()) == sorted(calls)
    edges = p.manifest()["models"]
    for i in range(n_models):
        assert edges[f"m{i}"]["depends_on"] == sorted(f"m{j}" for j in set(parents[i]))
        assert edges[f"m{i}"]["sources"] == ["src"]


def test_run_jobs_belong_to_the_callers_job_group(glamira, spark, tmp_path):
    """Every Spark job a run() submits carries the job group the caller
    set before calling it, though the models build on other threads."""
    _, paths = glamira
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listeners = sc._jsc.sc().listenerBus()
    group = "glamira-run-job-group"
    listeners.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "warehouse build")
    try:
        _pipeline(spark, paths, str(tmp_path / "models")).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    listeners.waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup(group)) >= len(TABLES)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before
