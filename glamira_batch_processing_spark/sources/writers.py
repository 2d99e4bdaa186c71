"""Z-order (Morton) clustering keys for warehouse-layout writes.

ref: ETL/load_to_bigquery.py:37-94 — clustering on the warehouse table
(S7). :func:`zorder_key` is the sort key behind
``VersionedTable.compact(cluster_by=...)`` (the OPTIMIZE ZORDER analog);
:func:`sql_zorder_key` is its DuckDB twin. Day partitioning is a
``Pipeline`` table model's ``partition_by``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _str_prefix_val(v: str | None, lcp: int) -> float:
    """Python twin of the string z-order expression: big-endian value
    of bytes [lcp, lcp+6) of the UTF-8 encoding, zero right-padded."""
    b = (v or "").encode("utf-8")[lcp : lcp + 6]
    return float(int.from_bytes(b.ljust(6, b"\x00"), "big"))


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16
) -> tuple[DataFrame, F.Column]:
    """Morton (Z-order) interleave of the given columns (numeric, date,
    timestamp, or string).

    Each column is min/max-scaled to a ``bits``-bit integer (one tiny
    agg job computes the ranges), then the bits are interleaved with
    pure Column expressions (shiftleft/or — JVM-side, codegen'd). Rows
    sorted by the returned key cluster MULTI-dimensionally: a parquet
    row group then has tight min/max stats on EVERY interleaved column,
    so conjunctive filters on any subset of them skip row groups — the
    property a single-column sort only gives its leading column.

    STRING columns cluster through an order-preserving prefix image:
    the bytes after the column's COMMON prefix (computed from the
    min/max strings — 'user-0001'..'user-9999' all share 'user-', which
    would otherwise collapse every row into one bucket), taken 6 bytes
    wide (48 bits keeps the image exact in a double), zero-padded so
    the comparison stays left-justified like byte order. UTF-8 byte
    order equals code-point order, so the image is order-preserving;
    it is approximate beyond the window, which is what bucketing needs —
    parquet min/max on the REAL string column still prunes precisely.

    Returns (df with ranges applied, zkey Column). NULLs map to bucket 0.
    """
    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder_key: {bits} bits x {len(cols)} cols = {bits * len(cols)} "
            "interleaved bits exceeds a signed 64-bit key; lower `bits` "
            "(e.g. bits=15 for 4 columns)"
        )
    dtypes = dict(df.dtypes)

    def raw(c: str) -> F.Column:
        dt = dtypes[c]
        if dt == "string":
            return F.col(c)  # range agg on the raw string; image derived below
        if dt == "date":
            return F.unix_date(F.col(c)).cast("double")
        if dt.startswith("timestamp"):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        return F.col(c).cast("double")

    ranges = df.agg(
        *[F.min(raw(c)).alias(f"__min_{c}") for c in cols],
        *[F.max(raw(c)).alias(f"__max_{c}") for c in cols],
    ).collect()[0]

    orderable: dict[str, F.Column] = {}
    bounds: dict[str, tuple] = {}
    for c in cols:
        lo, hi = ranges[f"__min_{c}"], ranges[f"__max_{c}"]
        if dtypes[c] == "string":
            lo_b = (lo or "").encode("utf-8")
            hi_b = (hi or "").encode("utf-8")
            lcp = 0
            while lcp < min(len(lo_b), len(hi_b), 64) and lo_b[lcp] == hi_b[lcp]:
                lcp += 1
            # bytes [lcp, lcp+6) via hex (multibyte-safe: operates on
            # the UTF-8 bytes, never on characters), right-padded with
            # '0' hex digits so shorter suffixes stay left-justified
            orderable[c] = F.expr(
                "CAST(conv(rpad(substring(hex(CAST(coalesce(`{c}`, '') AS "
                "BINARY)), {start}, 12), 12, '0'), 16, 10) AS DOUBLE)".format(
                    c=c, start=2 * lcp + 1
                )
            )
            bounds[c] = (_str_prefix_val(lo, lcp), _str_prefix_val(hi, lcp))
        else:
            orderable[c] = raw(c)
            bounds[c] = (lo, hi)
    max_bucket = (1 << bits) - 1
    quantized = []
    for c in cols:
        lo, hi = bounds[c]
        span = (hi - lo) if (hi is not None and lo is not None and hi > lo) else 1.0
        q = F.floor(
            (F.coalesce(orderable[c], F.lit(lo or 0.0)) - F.lit(lo or 0.0))
            / F.lit(span)
            * F.lit(max_bucket)
        ).cast("long")
        quantized.append(F.least(F.greatest(q, F.lit(0)), F.lit(max_bucket)))
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for qcol in quantized:
            z = (
                F.shiftleft(z, 1)
                .cast("long")
                .bitwiseOR(F.shiftright(qcol, bit).bitwiseAND(one))
            )
    return df, z


def sql_zorder_key(table: str, cols: list[str], bits: int = 16) -> str:
    """DuckDB twin of :func:`zorder_key` as a SQL select-list expression.

    Same min/max scaling (scalar subqueries), same quantization
    arithmetic (double ops are bit-identical across engines), same bit
    layout: the bit ``b`` of column ``i`` lands at final position
    ``b * ncols + (ncols - 1 - i)`` — the closed form of the Spark
    implementation's append loop.
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"sql_zorder_key: {bits} bits x {n} cols exceeds a signed 64-bit key"
        )
    max_bucket = (1 << bits) - 1
    qs = []
    for c in cols:
        lo = f"(SELECT MIN(CAST({c} AS DOUBLE)) FROM {table})"
        hi = f"(SELECT MAX(CAST({c} AS DOUBLE)) FROM {table})"
        span = f"(CASE WHEN {hi} > {lo} THEN {hi} - {lo} ELSE 1.0 END)"
        q = (
            f"LEAST(GREATEST(CAST(FLOOR((COALESCE(CAST({c} AS DOUBLE), {lo}) - {lo})"
            f" / {span} * {max_bucket}) AS BIGINT), 0), {max_bucket})"
        )
        qs.append(q)
    terms = []
    for i, q in enumerate(qs):
        for b in range(bits):
            pos = b * n + (n - 1 - i)
            terms.append(f"((({q} >> {b}) & 1) << {pos})")
    return " + ".join(terms)
