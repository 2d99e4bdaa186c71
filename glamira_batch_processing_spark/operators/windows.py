"""Window-function operators: dedupe, canonical-row, SCD2 history.

ref: mart_dim_customer.sql:24-40 (W1), mart_dim_location.sql:3-25 (W2),
customer_email_scd.sql:36-41 (W3), Incremental_load_template.sql:18-30
(W4) — SURVEY.md §2.5.

Scale note: all of these shuffle once on the partition keys. At 100 TB
the partition key must be high-cardinality (user id, email, composite
business key) — these are, so the sort within each key group is tiny.
No global sort is ever required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedupe_latest(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Keep one row per key, first under ``order_by`` (W1/W2 pattern).

    Callers pass a deterministic total order (include a unique tiebreak
    column) so results are stable across runs and engines.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_from_history(
    df: DataFrame,
    key: str,
    ts: Column,
    tiebreak: Column,
) -> DataFrame:
    """Derive SCD Type-2 validity windows from an append-only history.

    The reference materializes SCD2 via dbt's snapshot MERGE
    (customer_email_scd.sql:1-12); without a transactional table format
    the equivalent is window-derived: valid_from = the event ts,
    valid_to = the next event's ts for the same key (NULL = current),
    is_current = no later event exists.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    nxt = F.lead(ts).over(w)
    return df.withColumn("valid_from", ts).withColumn("valid_to", nxt).withColumn(
        "is_current", nxt.isNull()
    )
