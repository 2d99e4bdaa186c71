"""Raw currency label -> ISO code resolution.

The reference hardcodes a ~40-branch CASE mapping raw scraped currency
labels to ISO codes, a CLEAN/AMBIGUOUS/UNKNOWN status, and a TLD-based
inference table for the ambiguous ``$`` / ``kr`` symbols
(ref: models/marts/mart_fact_order.sql:21-131).

Here the mappings are data — plain dicts compiled into broadcast-join
lookup DataFrames or ``when`` chains. Data-driven lookups keep the hot
path JVM-side and make the tables unit-testable and maintainable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: lower(trim(label)) -> ISO code, unambiguous labels.
#: ref: models/marts/mart_fact_order.sql:25-48
CURRENCY_LABEL_TO_ISO = {
    "usd $": "USD", "usd": "USD", "us$": "USD", "us $": "USD",
    "cad $": "CAD", "au $": "AUD", "sgd $": "SGD", "nzd $": "NZD",
    "hkd $": "HKD", "mxn $": "MXN", "cop $": "COP", "dop $": "DOP",
    "gtq q": "GTQ", "pen s/.": "PEN", "s/.": "PEN",
    "clp": "CLP", "uyu": "UYU", "chf": "CHF", "lei": "RON", "ft": "HUF",
    "kč": "CZK", "zł": "PLN", "лв.": "BGN", "лв": "BGN", "kn": "HRK",
    "din.": "RSD", "din": "RSD", "r$": "BRL",
}

#: Exact trimmed symbol -> ISO code (case-sensitive symbols).
#: ref: models/marts/mart_fact_order.sql:51-59
CURRENCY_SYMBOL_TO_ISO = {
    "€": "EUR", "£": "GBP", "₺": "TRY", "₫": "VND", "₱": "PHP",
    "₹": "INR", "￥": "JPY", "₲": "PYG", "د.ك.‏": "KWD",
}

#: Ambiguous symbols needing URL-TLD context.
#: ref: models/marts/mart_fact_order.sql:62-63
AMBIGUOUS_LABELS = ("$", "kr")

#: url TLD -> ISO code for ambiguous labels.
#: ref: models/marts/mart_fact_order.sql:92-119
TLD_TO_ISO = {
    "uk": "GBP", "de": "EUR", "fr": "EUR", "es": "EUR", "it": "EUR",
    "au": "AUD", "ca": "CAD", "nz": "NZD", "sg": "SGD", "se": "SEK",
    "no": "NOK", "dk": "DKK", "ch": "CHF", "jp": "JPY", "mx": "MXN",
    "br": "BRL", "pl": "PLN", "nl": "EUR", "ie": "EUR", "be": "EUR",
    "in": "INR", "ph": "PHP", "vn": "VND", "pt": "EUR",
}


def url_host(url: Column) -> Column:
    """lower(trim(host)) extracted from a URL ('' when absent)."""
    return F.lower(F.trim(F.coalesce(F.regexp_extract(url, "://([^/]+)", 1), F.lit(""))))


def url_tld(url: Column) -> Column:
    """Trailing TLD of the URL host (empty string when none)."""
    return F.regexp_extract(url_host(url), "\\.([a-z]{2,})$", 1)


def currency_code_expr(raw: Column) -> Column:
    """Unambiguous raw label -> ISO code; NULL when ambiguous/unknown."""
    norm = F.lower(F.trim(raw))
    sym = F.trim(raw)
    expr = F.when(raw.isNull() | (F.trim(raw) == ""), F.lit(None))
    for label, iso in CURRENCY_LABEL_TO_ISO.items():
        expr = expr.when(norm == label, F.lit(iso))
    for symbol, iso in CURRENCY_SYMBOL_TO_ISO.items():
        expr = expr.when(sym == symbol, F.lit(iso))
    return expr.otherwise(F.lit(None))


def currency_status_expr(raw: Column) -> Column:
    """CLEAN / AMBIGUOUS / UNKNOWN classification of the raw label."""
    norm = F.lower(F.trim(raw))
    sym = F.trim(raw)
    clean_norm = list(CURRENCY_LABEL_TO_ISO.keys())
    clean_sym = list(CURRENCY_SYMBOL_TO_ISO.keys())
    return (
        F.when(raw.isNull() | (F.trim(raw) == ""), F.lit("UNKNOWN"))
        .when(norm.isin(clean_norm), F.lit("CLEAN"))
        .when(sym.isin(clean_sym), F.lit("CLEAN"))
        .when(sym == "$", F.lit("AMBIGUOUS"))
        .when(norm == "kr", F.lit("AMBIGUOUS"))
        .otherwise(F.lit("UNKNOWN"))
    )


def infer_currency_from_tld(status: Column, current_url: Column) -> Column:
    """Resolve AMBIGUOUS labels using the URL's host / TLD.

    ref: models/marts/mart_fact_order.sql:88-119 — note the special-case
    ``co.uk`` host suffix check before the plain TLD table.
    """
    host = url_host(current_url)
    tld = url_tld(current_url)
    expr = F.when(status != "AMBIGUOUS", F.lit(None)).when(
        host.endswith("co.uk"), F.lit("GBP")
    )
    for t, iso in TLD_TO_ISO.items():
        expr = expr.when(tld == t, F.lit(iso))
    return expr.otherwise(F.lit(None))


FX_SCHEMA = "fx_date date, base_code string, currency_code string, usd_to_ccy double"


def fx_rates(spark: SparkSession) -> DataFrame:
    """The fx seed as a small broadcast-able DataFrame.

    ref: seeds/fx_to_usd_22_01_26.csv + dbt_project.yml:49-57 (typed
    seed, S9 in SURVEY §2.1): 34 rows, one fx_date. Semantics: 1 USD =
    ``usd_to_ccy`` units of ``currency_code``, so
    ``amount_usd = amount_ccy / usd_to_ccy``.

    Loads the packaged CSV seed with an explicit typed schema (the dbt
    column_types analog).
    """
    from pathlib import Path

    csv_path = Path(__file__).resolve().parent.parent / "seeds" / "fx_to_usd.csv"
    return spark.read.csv(str(csv_path), header=True, schema=FX_SCHEMA)


import datetime as _dt

_FX_DATE = _dt.date(2026, 1, 22)
#: Verbatim from the reference seed (fx_to_usd_22_01_26.csv).
FX_SEED_ROWS = [
    (_FX_DATE, "USD", c, r)
    for c, r in [
        ("EUR", 0.854605), ("GBP", 0.744690), ("CHF", 0.793869),
        ("AUD", 1.480259), ("CAD", 1.382106), ("SGD", 1.283850),
        ("NZD", 1.712003), ("HKD", 7.797262), ("MXN", 17.483454),
        ("COP", 3669.369497), ("DOP", 63.014776), ("GTQ", 7.662961),
        ("PEN", 3.354176), ("CLP", 885.615783), ("UYU", 38.313559),
        ("HUF", 328.636115), ("CZK", 20.784798), ("PLN", 3.603213),
        ("BGN", 1.617346), ("HRK", 6.438997), ("RSD", 100.243517),
        ("BRL", 5.349295), ("TRY", 43.306170), ("VND", 26155.805047),
        ("PHP", 59.255223), ("INR", 91.651518), ("JPY", 158.157179),
        ("KWD", 0.306554), ("PYG", 6664.751304), ("RON", 4.345417),
        ("SEK", 11.023000), ("NOK", 10.612000), ("DKK", 6.747000),
        ("USD", 1.0),
    ]
]
