"""Schema-reconciling parquet reader (drift repair).

ref: ETL/normalize_parquet_run.py:73-168 — the reference samples part
files, detects per-column type drift across parts, and force-casts
drifted columns to STRING before warehouse load.

Spark-first shape (the 100 TB version):

1. Read parquet *footers only* — in parallel. Footer reads are pure
   metadata RPCs; below ``_RDD_FOOTER_THRESHOLD`` paths we use a driver
   thread pool (32 concurrent pyarrow footer reads), above it we ship
   the path list through an RDD so the cluster reads footers, keeping
   the driver O(#distinct schemas) instead of O(#files).
2. Fingerprint each file's schema and group paths by fingerprint. A
   41M-doc table with ~8 200 part files typically has 2-3 distinct
   schemas, so the logical plan contains 2-3 scans — one
   ``spark.read.parquet(*group)`` per schema group — never one scan per
   file.
3. Columns whose type differs across groups (or listed in
   ``force_string``) are cast to string inside each group's projection;
   columns absent from a group are filled with typed NULLs; groups are
   unioned by name.

No data file is read twice and the union fan-in equals the number of
distinct schemas, not the number of files.
"""

from __future__ import annotations

from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Above this many paths, footer listing moves off the driver onto the
# cluster (RDD map); below it a thread pool is faster (no job overhead).
_RDD_FOOTER_THRESHOLD = 2048

_ARROW_TO_SPARK = {
    "bool": "boolean",
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "binary": "binary",
    "large_binary": "binary",
    "date32[day]": "date",
}


def _spark_type_name(arrow_type: str) -> str:
    """Spark SQL type name for an arrow type string (string fallback)."""
    if arrow_type in _ARROW_TO_SPARK:
        return _ARROW_TO_SPARK[arrow_type]
    if arrow_type.startswith("timestamp"):
        return "timestamp"
    if arrow_type.startswith("decimal128(") or arrow_type.startswith("decimal64("):
        return "decimal" + arrow_type[arrow_type.index("(") :]
    if arrow_type.startswith("list<"):
        return "array<" + _spark_type_name(arrow_type[5:-1].split(": ", 1)[-1]) + ">"
    return "string"


def _footer_fields(path: str) -> tuple[tuple[str, str], ...]:
    """(column, spark-type-name) pairs from one parquet footer.

    ``path`` may be a single part file or a directory of uniform parts
    (pyarrow resolves the dataset schema from footers either way — no
    data pages are read).
    """
    import pyarrow.parquet as pq

    schema = pq.ParquetDataset(path).schema
    return tuple(
        (name, _spark_type_name(str(schema.field(name).type))) for name in schema.names
    )


def _list_footers(
    spark: SparkSession, paths: list[str]
) -> list[tuple[str, tuple[tuple[str, str], ...]]]:
    """[(path, schema-fingerprint)] with footers read in parallel."""
    ordered = sorted(paths)
    if len(ordered) >= _RDD_FOOTER_THRESHOLD:
        # Cluster-side listing: the driver never touches a footer.
        rdd = spark.sparkContext.parallelize(ordered, max(32, len(ordered) // 256))
        return sorted(rdd.map(lambda p: (p, _footer_fields(p))).collect())
    with ThreadPoolExecutor(max_workers=min(32, max(1, len(ordered)))) as pool:
        fields = list(pool.map(_footer_fields, ordered))
    return [(p, f) for p, f in zip(ordered, fields)]


def reconcile_read(
    spark: SparkSession,
    paths: list[str],
    sample_size: int | None = None,
    force_string: list[str] | None = None,
) -> DataFrame:
    """Read drifting parquet parts into one DataFrame.

    Builds ONE scan per distinct file schema (not per file): paths are
    grouped by schema fingerprint and each group is read with a single
    multi-path ``spark.read.parquet``. Columns whose type differs across
    groups (or listed in ``force_string``) are cast to string; columns a
    group lacks are filled as typed NULLs; groups are unioned by name.

    ``sample_size`` is accepted for API compatibility; grouping always
    consults every footer (parallel metadata reads), so columns or
    conflicts beyond any sample window are never silently dropped.
    """
    del sample_size  # full footer listing supersedes sampling
    footers = _list_footers(spark, paths)

    groups: dict[tuple[tuple[str, str], ...], list[str]] = defaultdict(list)
    for path, fp in footers:
        groups[fp].append(path)

    # Column universe + drift from ALL footers, not a sample.
    seen: dict[str, set[str]] = defaultdict(set)
    for fp in groups:
        for name, typ in fp:
            seen[name].add(typ)
    drifted = {c for c, types in seen.items() if len(types) > 1}
    drifted.update(force_string or [])
    all_cols = sorted(seen)

    frames: list[DataFrame] = []
    for fp in sorted(groups):
        df = spark.read.parquet(*groups[fp])
        have = {f.name for f in df.schema.fields}
        cols = []
        for c in all_cols:
            if c not in have:
                # Typed NULL when the type is unambiguous so unionByName
                # never silently widens a stable column to string.
                target = "string" if c in drifted else next(iter(seen[c]))
                cols.append(F.lit(None).cast(target).alias(c))
            elif c in drifted:
                cols.append(F.col(c).cast("string").alias(c))
            else:
                cols.append(F.col(c).alias(c))
        frames.append(df.select(*cols))

    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
