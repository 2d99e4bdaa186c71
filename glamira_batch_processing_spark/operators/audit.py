"""Audit-metric operators: null rates, referential orphan rates, QA flags.

ref: audit/audit_null_rates_stg_order.sql:1-31 (A4),
audit/audit_orphan_rates.sql:1-33 (J9/A5), intermediate/int_order_qa.sql
:19-95 (the 13 row-level QA rules) — SURVEY.md §2.4, §5.

Everything is a single-pass conditional aggregation, over EXISTS flags
for the orphan audit — one shuffle, map-side partials, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import safe_divide


def null_rates(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row: total count + per-column null counts and rates."""
    aggs = [F.count("*").alias("rows_total")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
        )
    out = df.agg(*aggs)
    for c in cols:
        out = out.withColumn(
            f"null_rate_{c}", safe_divide(F.col(f"null_{c}"), F.col("rows_total"))
        )
    return out


def orphan_rates(
    fact: DataFrame, dims: dict[str, tuple[DataFrame, str, Column]]
) -> DataFrame:
    """Referential-integrity audit: for each dim, count the fact rows
    with no match. ``dims`` maps name -> (dim_df, dim_key, fact_key): a
    fact row is an orphan of the dim when no dim row has ``dim_key``
    equal to the row's ``fact_key`` (a NULL key matches nothing).

    Each check is an EXISTS flag (an ExistenceJoin), so duplicate dim
    keys cannot fan the fact out and the dims need no ``distinct``; all
    dims are still checked in ONE pass over the fact. The fact keys are
    aliased to names no dim carries first: an outer reference whose name
    also appears in the dim's plan would resolve inside the subquery,
    and every row would then "exist".
    """
    fk = [f"__orphan_fk_{i}" for i in range(len(dims))]
    keyed = fact.select(*[k.alias(a) for (_, _, k), a in zip(dims.values(), fk)])
    flags = keyed.select(
        *[
            (~dim.where(F.col(key) == F.col(a).outer()).exists()).alias(f"__orphan_{name}")
            for (name, (dim, key, _)), a in zip(dims.items(), fk)
        ]
    )
    aggs = [F.count("*").alias("fact_rows")]
    for name in dims:
        aggs.append(
            F.sum(F.when(F.col(f"__orphan_{name}"), 1).otherwise(0)).alias(
                f"orphan_{name}_rows"
            )
        )
    out = flags.agg(*aggs)
    for name in dims:
        out = out.withColumn(
            f"orphan_{name}_rate",
            safe_divide(F.col(f"orphan_{name}_rows"), F.col("fact_rows")),
        )
    return out


# --- row-level QA rules (int_order_qa.sql:19-95) ---------------------------

EMAIL_RE = r"^[^@\s]+@[^@\s]+\.[^@\s]+$"
IPV4_RE = r"^\d{1,3}(\.\d{1,3}){3}$"
PRIVATE_172_RE = r"^172\.(1[6-9]|2[0-9]|3[0-1])\."
URL_SCHEME_RE = r"^https?://"
SUCCESS_PATH_RE = r"/checkout/onepage/success"


def qa_flags(
    df: DataFrame,
    email: Column,
    ip: Column,
    current_url: Column,
    referrer_url: Column,
    quantity: Column,
    price: Column,
    event_type: Column,
    checkout_type: str = "purchase",
) -> DataFrame:
    """Attach the reference's boolean QA rule columns + is_row_valid."""
    email_norm = F.lower(F.trim(email))
    cur = F.trim(current_url)
    ref = F.trim(referrer_url)
    line_total = quantity * price
    flags = {
        "is_email_valid": email_norm.rlike(EMAIL_RE),
        "is_ipv4_format": ip.rlike(IPV4_RE),
        "is_not_placeholder_ip": ~ip.isin("0.0.0.0", "127.0.0.1"),
        "is_not_private_ip": ~(
            ip.startswith("10.")
            | ip.rlike(r"^192\.168\.")
            | ip.rlike(PRIVATE_172_RE)
        ),
        "is_current_url_valid": cur.rlike(URL_SCHEME_RE),
        "is_referrer_url_valid": ref.rlike(URL_SCHEME_RE),
        "is_success_url_ok": F.when(
            event_type == checkout_type, cur.rlike(SUCCESS_PATH_RE)
        ).otherwise(F.lit(True)),
        "is_qty_positive": quantity > 0,
        "is_price_nonnegative": price >= 0,
        "is_line_total_nonnegative": line_total >= 0,
        "is_line_total_reasonable": line_total <= 100000,
    }
    out = df
    for name, expr in flags.items():
        out = out.withColumn(name, expr)
    valid = None
    for name in flags:
        valid = F.col(name) if valid is None else (valid & F.col(name))
    return out.withColumn("is_row_valid", valid)


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column data profile: (column, n_rows, n_null, n_distinct,
    min_str, max_str) — the ANALYZE/profiling pass a training-data
    pipeline runs before trusting a new source drop.

    One distributed pass: a single wide aggregate computes every
    column's stats (count-distincts expand to one partial per column,
    all map-side combinable), then the 1-row result unpivots to one row
    per column via stack() — no per-column jobs, no collect of row
    data. min/max are emitted as strings so heterogeneous column types
    share one schema (callers profiling float columns should quantize
    first; string renderings of floats are engine-specific).
    """
    # Positional internal aliases + df[c] column access: arbitrary
    # column names (spaces, dots, quotes) profile cleanly; only the
    # reported label embeds the name, escaped as a SQL string literal.
    aggs = []
    for i, c in enumerate(cols):
        qc = F.col("`" + c.replace("`", "``") + "`")  # literal name, dots included
        aggs += [
            F.sum(F.when(qc.isNull(), 1).otherwise(0)).alias(f"__nn_{i}"),
            F.countDistinct(qc).alias(f"__nd_{i}"),
            F.min(qc).cast("string").alias(f"__mn_{i}"),
            F.max(qc).cast("string").alias(f"__mx_{i}"),
        ]
    one = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    stack_args = ", ".join(
        f"'{c.replace(chr(39), chr(39) * 2)}', __nn_{i}, __nd_{i}, __mn_{i}, __mx_{i}"
        for i, c in enumerate(cols)
    )
    return one.selectExpr(
        "__n",
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_null, n_distinct, min_str, max_str)",
    ).select(
        "column_name",
        F.col("__n").alias("n_rows"),
        "n_null",
        "n_distinct",
        "min_str",
        "max_str",
    )
