"""Warehouse-layout writers.

ref: ETL/load_to_bigquery.py:37-94 — day partitioning + clustering on
the warehouse table (S7); Source/*.py CSV sinks (S8); manifest JSON
docs (S10). Spark-native: partitionBy for pruning,
sortWithinPartitions for clustering-like locality (row-group skipping),
atomic output committer replaces the hand-rolled retry/resume logic.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "date",
    cluster_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Day-partitioned, cluster-sorted parquet table (S7).

    partitionBy gives partition pruning on the incremental lookback
    filter; sortWithinPartitions gives parquet row-group min/max
    locality on the cluster keys (BigQuery clustering analog).
    """
    out = df
    if cluster_cols:
        out = out.repartition(F.col(partition_col)).sortWithinPartitions(*cluster_cols)
    out.write.mode(mode).partitionBy(partition_col).parquet(path)


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


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write (the OPTIMIZE ZORDER analog).

    repartitionByRange on the Morton key places z-adjacent rows in the
    same file AND the same row groups, so point/box filters on any of
    ``zorder_cols`` prune files and row groups via parquet min/max
    stats. Use for the 2+ filter-column case where
    ``write_partitioned``'s single sort key can't serve all predicates.

    ``n_files`` pins the output file count (an explicit count keeps AQE
    from coalescing a small table into one file, which would leave a
    single stats range and nothing to skip); default = the session's
    shuffle parallelism.
    """
    out, z = zorder_key(df, zorder_cols, bits=bits)
    n = n_files or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        out.withColumn("__z", z)
        .repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


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


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 128,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Deterministic training-shard layout: shard = xxhash64(id) mod n,
    one parquet file per shard, rows in a fixed order within the shard.

    This is the delivery format a trainer consumes: shard membership is
    a pure function of the id (stable under corpus growth and across
    rewrites — no RNG, no row-order dependence), shards are
    size-balanced by the hash, and the per-shard file is byte-stable so
    downstream caching/resume can trust it. Reading one shard prunes
    via the partition column."""
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
    (
        df.withColumn("shard", shard)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", id_col)
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Header-once CSV sink (S8). Task-level atomicity replaces the
    reference's append+fsync crash-safety."""
    df.write.mode(mode).option("header", True).csv(path)


def write_manifest(path: str, manifest: dict) -> None:
    """Run-manifest JSON document (S10) — control-plane metadata."""
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True, default=str)
