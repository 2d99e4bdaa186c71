"""Dictionary-encoding of low-cardinality string columns at the
warehouse layer.

The 100 TB schema decision behind it (round-9, VERDICT r8 ask #2):
grouping 60M+ rows by a low-cardinality STRING key costs Spark a
measured ~0.5-1 s per 60M rows in UTF8String materialization alone —
a linear engine constant that native columnar engines avoid by
aggregating over dictionary CODES and decoding once per group
(SCALE.md q1 floor profile). The remedy is not a config (offheap /
vectorized-agg-map probes moved ±5%) but a layout: the staging layer
writes enum-like strings as 1-byte codes plus a tiny decode dimension,
so every downstream groupBy/join/filter touches integers and the
string surfaces exactly once per GROUP, not once per row. This is the
same decision a dimensional warehouse makes for any enum (status
flags, priority classes, country codes) — the reference's own staging
models cast/rename at ingest for the same reason
(ref: Modelling/stg_order.sql staging projections).

``dict_encode_columns`` derives each dictionary from the data (one
tiny distinct+sort per column at WRITE time, amortized over every
later read); ``decode_after_agg_inline`` restores the strings after
aggregation, when row count has collapsed from O(fact) to O(groups).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dict_encode_columns(
    df: DataFrame, cols: list[str]
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Replace each string column in ``cols`` with a dense tinyint code.

    Codes are assigned by sorted distinct value (deterministic across
    runs and partitionings), computed with one small aggregate per
    column — O(distinct) rows ever leave the executors. Returns the
    coded DataFrame (``<col>_code`` tinyint replaces ``col``) and a
    per-column 2-column decode dimension ``(<col>_code, <col>)`` small
    enough to broadcast forever.

    NULL encodes as NULL (the code column is nullable iff the source
    was), so null-grouping semantics survive the roundtrip.

    Raises ``ValueError`` if a column exceeds the tinyint code domain
    (127 distinct non-null values) — a silent cast would wrap codes
    and corrupt groups; a column that wide is not an enum and should
    not be dictionary-encoded at this layer.
    """
    spark = df.sparkSession
    dims: dict[str, DataFrame] = {}
    out = df
    for c in cols:
        # One distinct scan per enum column at WRITE time; the result
        # is bounded-collected (limit 128 caps the transfer even on a
        # mistakenly wide column) and the decode dim is built locally,
        # so the encode join below reuses it without a second pass.
        vals = (
            df.select(F.col(c))
            .where(F.col(c).isNotNull())
            .distinct()
            .orderBy(c)
            .limit(128)
            .collect()
        )
        if len(vals) > 127:
            raise ValueError(
                f"column {c!r} has >127 distinct values — beyond the "
                "tinyint code domain; not an enum, refuse to encode"
            )
        dim = spark.createDataFrame(
            [(i, r[c]) for i, r in enumerate(vals)],
            f"{c}_code tinyint, {c} string",
        )
        dims[c] = dim
        out = (
            out.join(F.broadcast(dim), on=c, how="left")
            .drop(c)
        )
    return out, dims


def decode_map_exprs(
    dims: dict[str, DataFrame],
) -> dict[str, F.Column]:
    """Inline decode: one literal ``create_map`` lookup column per
    coded column, built from a BOUNDED control-plane collect (tinyint
    codes => <=256 rows per dim, by construction). In a long-lived
    warehouse app the decode dims are static metadata loaded once —
    paying two broadcast-join jobs per query to re-read a 6-row table
    is pure per-query constant, and at the 6-group post-aggregate row
    count the lookup is free. Apply with::

        for c, expr in decode_map_exprs(dims).items():
            agg = agg.withColumn(c, expr).drop(f"{c}_code")
    """
    exprs: dict[str, F.Column] = {}
    for c, dim in dims.items():
        pairs = dim.collect()  # bounded: tinyint code domain
        mapping = F.create_map(
            *[F.lit(v) for r in pairs for v in (r[f"{c}_code"], r[c])]
        )
        exprs[c] = mapping[F.col(f"{c}_code")]
    return exprs


def decode_after_agg_inline(
    agg: DataFrame, dims: dict[str, DataFrame]
) -> DataFrame:
    """Restore the coded strings AFTER aggregation via inline map
    expressions (no join jobs) — the string column materializes once
    per group, never per row."""
    out = agg
    for c, expr in decode_map_exprs(dims).items():
        out = out.withColumn(c, expr).drop(f"{c}_code")
    return out
