"""Z-order clustered writes: multi-dimensional row-group skipping.

Measures REAL parquet min/max statistics: after a z-ordered write, a
narrow band predicate on the SECOND dimension intersects only a small
fraction of row groups, where a layout sorted by the first dimension
alone leaves the second dimension unclustered (every row group
intersects). This is the property that makes conjunctive filters cheap
at 100 TB.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from glamira_batch_processing_spark.sources.versioned import VersionedTable


def _row_groups_intersecting(path: str, col: str, lo: float, hi: float):
    """(intersecting, total) row groups whose [min,max] overlaps [lo,hi]."""
    hits = total = 0
    for f in Path(path).glob("*.parquet"):
        pf = pq.ParquetFile(str(f))
        idx = pf.schema_arrow.get_field_index(col)
        for rg in range(pf.metadata.num_row_groups):
            stats = pf.metadata.row_group(rg).column(idx).statistics
            total += 1
            if stats is None or not stats.has_min_max:
                hits += 1  # no stats -> cannot skip
            elif not (stats.max < lo or stats.min > hi):
                hits += 1
    return hits, total


def test_zorder_skips_row_groups_on_second_dimension(spark, tmp_path):
    # two independent uniform dimensions (deterministic)
    df = (
        spark.range(100_000)
        .withColumn("x", (F.col("id") * 7919) % 10_000)
        .withColumn("y", (F.col("id") * 104729) % 10_000)
    )
    plain = str(tmp_path / "plain_x_sorted")
    # baseline: single-column clustering on x
    df.repartitionByRange(32, F.col("x")).sortWithinPartitions("x").write.parquet(plain)
    t = VersionedTable(tmp_path / "zordered")
    t.create(df)
    v = t.compact(spark, target_files=32, cluster_by=["x", "y"])
    zord = str(t.path / t.manifest(v)["data_dir"])

    # same total rows in both layouts
    assert spark.read.parquet(zord).count() == 100_000

    # 2%-tall band on y
    band_lo, band_hi = 5_000, 5_200
    p_hits, p_total = _row_groups_intersecting(plain, "y", band_lo, band_hi)
    z_hits, z_total = _row_groups_intersecting(zord, "y", band_lo, band_hi)
    # x-sorted layout cannot skip on y: (almost) every row group overlaps
    assert p_hits >= p_total * 0.9
    # z-ordered layout skips the majority of row groups on y
    assert z_hits <= z_total * 0.5, (z_hits, z_total)
    # ... while still skipping on x too (z-order serves both dimensions)
    zx_hits, zx_total = _row_groups_intersecting(zord, "x", band_lo, band_hi)
    assert zx_hits <= zx_total * 0.5, (zx_hits, zx_total)

    # correctness: the z-ordered table returns the same band rows
    expect = df.filter(F.col("y").between(band_lo, band_hi)).count()
    got = (
        spark.read.parquet(zord)
        .filter(F.col("y").between(band_lo, band_hi))
        .count()
    )
    assert got == expect


def test_zorder_string_column_prunes_after_prefix_strip(spark, tmp_path):
    """String z-order (round 7): keys sharing a long common prefix
    ('user-...') must still cluster — the prefix is stripped before the
    6-byte order-preserving image, so the distinguishing bytes drive
    the buckets. Verified end-to-end through VersionedTable: a point
    lookup on the clustered string key opens a strict subset of files."""
    t = VersionedTable(tmp_path / "tbl", stat_columns=("uid",))
    df = spark.range(4000).selectExpr(
        "CONCAT('user-', LPAD(CAST(id AS STRING), 6, '0')) AS uid", "id AS v"
    )
    t.create(df.repartition(8))
    t.compact(spark, target_files=8, cluster_by=["uid"])
    got, info = t.read_pruned(spark, "uid", equals="user-002024")
    assert info["files_read"] < info["files_total"], info
    assert [(r.uid, r.v) for r in got.collect()] == [("user-002024", 2024)]


def test_zorder_string_image_is_order_preserving():
    """The python twin mirrors byte order, incl. multibyte UTF-8 and
    short-suffix left-justification."""
    from glamira_batch_processing_spark.sources.writers import _str_prefix_val

    vals = ["", "a", "ab", "b", "ré", "réx", "z", "ÿ"]
    imgs = [_str_prefix_val(v, 0) for v in vals]
    order_by_bytes = sorted(vals, key=lambda s: s.encode("utf-8"))
    order_by_img = sorted(vals, key=lambda s: _str_prefix_val(s, 0))
    assert order_by_bytes == order_by_img, list(zip(vals, imgs))


def test_zorder_mixed_types_accepted(spark):
    from pyspark.sql import functions as F

    from glamira_batch_processing_spark.sources.writers import zorder_key

    df = (
        spark.range(100)
        .selectExpr("CONCAT('k', CAST(id AS STRING)) AS s", "id AS v")
        .withColumn("d", F.to_date(F.lit("2024-03-01")))
        .withColumn("t", F.to_timestamp(F.lit("2024-03-01 10:00:00")))
    )
    out, z = zorder_key(df, ["s", "v", "d", "t"], bits=12)
    assert out.withColumn("z", z).select("z").distinct().count() > 1
