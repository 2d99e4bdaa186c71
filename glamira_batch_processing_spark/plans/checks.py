"""dbt-style declarative data tests as functions.

ref: models/staging/schema.yml + models/marts/schema.yml — unique /
not_null constraints; the reference's whole test suite (SURVEY.md §5.1).
Each check returns the violation count (0 = pass) so callers can assert
or collect into an audit report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_unique(df: DataFrame, cols: list[str] | str) -> int:
    cols = [cols] if isinstance(cols, str) else cols
    dup = (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    return dup.count()


def check_not_null(df: DataFrame, cols: list[str] | str) -> int:
    cols = [cols] if isinstance(cols, str) else cols
    pred = None
    for c in cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    return df.filter(pred).count()


def check_accepted_values(df: DataFrame, col: str, values: list) -> int:
    return df.filter(~F.col(col).isin(values) & F.col(col).isNotNull()).count()


def check_relationships(
    child: DataFrame, col: str, parent: DataFrame, parent_col: str
) -> int:
    """dbt ``relationships`` test: count child rows whose FK value has
    no matching parent row (NULL FKs pass, as in dbt). One left-anti
    join — broadcast when the parent is a dim, shuffle otherwise."""
    orphans = child.filter(F.col(col).isNotNull()).join(
        parent.select(F.col(parent_col).alias(col)).distinct(),
        col,
        "left_anti",
    )
    return orphans.count()
